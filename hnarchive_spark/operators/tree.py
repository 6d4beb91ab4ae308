"""Tree / hierarchy operators (SURVEY.md §2.5, G1/G2).

The reference's ``build_item_tree`` (hnarchive.py:306-319) materializes one
comment tree with an N+1 recursive point-query loop — one SELECT per node.
The Spark-native replacement is a recursive CTE (``WITH RECURSIVE``,
Spark 4.1): one declarative query whose fixpoint the engine drives
internally (UnionLoop in the physical plan) — no per-level driver round
trips at all.  Depth is unbounded in HN threads, so the recursion runs to
fixpoint, not to a constant (SURVEY §7 'what's hard' (c)).
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_view_counter = itertools.count()


def tree_closure(
    items: DataFrame,
    root_ids: Sequence[int],
    id_col: str = "id",
    parent_col: str = "parent",
    max_depth: int | None = None,
) -> DataFrame:
    """Transitive closure under ``parent`` edges for the given roots.

    Returns ``(root_id, id, depth)`` — every node of every requested tree
    with its distance from the root (root itself at depth 0).

    One recursive CTE (Spark 4.1 ``WITH RECURSIVE``): ONE declarative
    query, no per-level driver round-trips (the engine runs the fixpoint
    internally).  An empty ``root_ids`` gives zero rows.
    """
    spark = items.sparkSession
    view = f"_tree_closure_src_{next(_view_counter)}"
    items.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(parent_col).cast("long").alias("parent"),
    ).createOrReplaceTempView(view)
    # ``IN ()`` does not parse; ``IN (NULL)`` matches no row
    roots = ", ".join(str(int(r)) for r in root_ids) or "NULL"
    bound = f"AND c.depth < {int(max_depth)}" if max_depth is not None else ""
    return spark.sql(f"""
        WITH RECURSIVE closure AS (
          SELECT id AS root_id, id, 0 AS depth FROM {view} WHERE id IN ({roots})
          UNION ALL
          SELECT c.root_id, i.id, c.depth + 1 AS depth
          FROM {view} i JOIN closure c ON i.parent = c.id
          WHERE i.parent IS NOT NULL {bound}
        )
        SELECT root_id, id, depth FROM closure
    """)


def tree_edges_for_roots(items: DataFrame, root_ids: Sequence[int]) -> DataFrame:
    """Closure rows joined back to full item rows (for rendering, G2).

    Children within a level are ordered by (time, id) at render time —
    the reference's per-parent time sort (hnarchive.py:350).
    """
    closure = tree_closure(items, root_ids)
    return closure.join(items, "id").select(
        closure.root_id, closure.depth, *[items[c] for c in items.columns]
    )
