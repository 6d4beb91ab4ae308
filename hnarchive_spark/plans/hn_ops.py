"""hnarchive-specific operators as oracle-checked queries:

* q_merge_coalesce — the U1 merge matrix (coalesce vs overwrite vs insert,
  duplicate ids in one batch) via operators.merge.merge_items;
* q_tree_closure — G1 Spark recursive-CTE fixpoint vs a DuckDB recursive CTE;
* q_children_sorted — Q6/G2 per-parent time-ordered children;
* q_fix_ptags — F1 HTML repair + F7 URL templating;
* q_display_date — F4 epoch -> display-string formatting.

The inline fixtures and their SQL VALUES forms come from plans.fixtures so
Spark and the oracle consume identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hnarchive_spark.functions.scalars import display_date, fix_ptags, hn_item_url, hn_user_url
from hnarchive_spark.operators.merge import COALESCE_COLS, merge_items
from hnarchive_spark.operators.tree import tree_closure
from hnarchive_spark.plans import fixtures as FX
from hnarchive_spark.plans.registry import query
from hnarchive_spark.tables import load

# ---------------------------------------------------------------------------
# q_merge_coalesce
# ---------------------------------------------------------------------------


def _merge_oracle_sql() -> str:
    base_sql = FX.values_sql(FX.MERGE_BASE, FX.ITEM_COLS)
    upd_cols = FX.ITEM_COLS + ("seq",)
    upd_sql = FX.values_sql(FX.with_seq(FX.MERGE_UPDATES), upd_cols)
    lastnn = ",\n       ".join(
        f"arg_max({c}, seq) FILTER (WHERE {c} IS NOT NULL) AS {c}" for c in COALESCE_COLS
    )
    overwrite = [c for c in FX.ITEM_COLS if c not in COALESCE_COLS and c != "id"]
    collapsed_cols = ", ".join(
        [*(f"l.{c}" for c in overwrite), *(f"n.{c}" for c in COALESCE_COLS)]
    )

    def pick(c: str) -> str:
        if c == "id":
            return "coalesce(t.id, s.id) AS id"
        merged = f"coalesce(s.{c}, t.{c})" if c in COALESCE_COLS else f"s.{c}"
        return (
            f"CASE WHEN t.id IS NOT NULL AND s.id IS NOT NULL THEN {merged} "
            f"WHEN t.id IS NULL THEN s.{c} ELSE t.{c} END AS {c}"
        )

    merged_cols = ",\n       ".join(pick(c) for c in FX.ITEM_COLS)
    return f"""
    WITH base AS ({base_sql}),
    upd AS ({upd_sql}),
    lastrow AS (
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn FROM upd
      ) WHERE rn = 1
    ),
    lastnn AS (
      SELECT id,
       {lastnn}
      FROM upd GROUP BY id
    ),
    collapsed AS (
      SELECT l.id, {collapsed_cols}
      FROM lastrow l JOIN lastnn n USING (id)
    )
    SELECT {merged_cols}
    FROM base t FULL OUTER JOIN collapsed s ON t.id = s.id
    """


@query(
    "q_merge_coalesce",
    oracle=_merge_oracle_sql(),
    doc="U1 keyed upsert with per-column coalesce/overwrite policy "
    "(hnarchive.py:203-253) incl. duplicate-id fold within one batch; "
    "one full-outer join, no per-row probes.",
)
def q_merge_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = FX.items_df(spark, FX.MERGE_BASE)
    updates = FX.items_df_with_seq(spark, FX.MERGE_UPDATES)
    return merge_items(base, updates, seq_col="seq")


# ---------------------------------------------------------------------------
# q_wire_normalize (U3 + S2 tombstone semantics, oracle-checked from the
# same raw JSON payloads)
# ---------------------------------------------------------------------------

_WIRE_PAYLOADS = [
    '{"id": 1, "type": "story", "by": "alice", "time": 1700000000, "title": "T", "score": 5, "descendants": 2, "url": "https://a"}',
    '{"id": 2, "type": "comment", "by": "bob", "parent": 1, "time": 1700000100, "text": "hi<p>there"}',
    '{"id": 3, "type": "comment", "deleted": true, "time": 1700000200, "parent": 1}',
    '{"id": 4, "type": "story"}',  # tombstone: no time -> filtered (S2)
    '{"id": 5, "type": "pollopt", "poll": 9, "time": 1700000300, "score": 0, "dead": true}',
]
_RETRIEVED = 1_700_001_000


def _wire_oracle_sql() -> str:
    payloads = ",\n      ".join(f"({p!r})" for p in _WIRE_PAYLOADS)
    return f"""
    WITH raw(payload) AS (VALUES
      {payloads}
    )
    SELECT CAST(payload->>'$.id' AS BIGINT) AS id,
           coalesce(CAST(payload->>'$.deleted' AS BOOLEAN), FALSE) AS deleted,
           payload->>'$.type' AS type,
           payload->>'$.by' AS author,
           CAST(payload->>'$.time' AS BIGINT) AS time,
           payload->>'$.text' AS text,
           coalesce(CAST(payload->>'$.dead' AS BOOLEAN), FALSE) AS dead,
           CAST(payload->>'$.parent' AS BIGINT) AS parent,
           CAST(payload->>'$.poll' AS BIGINT) AS poll,
           payload->>'$.url' AS url,
           CAST(payload->>'$.score' AS BIGINT) AS score,
           payload->>'$.title' AS title,
           CAST(payload->>'$.descendants' AS BIGINT) AS descendants,
           {_RETRIEVED} AS retrieved,
           {_RETRIEVED} - CAST(payload->>'$.time' AS BIGINT) AS age_at_retrieval
    FROM raw
    WHERE payload->>'$.time' IS NOT NULL
    """


@query(
    "q_wire_normalize",
    oracle=_wire_oracle_sql(),
    doc="U3 wire normalization (hnarchive.py:203-229): raw Firebase JSON -> "
    "typed items rows via from_json + the declarative select (by->author "
    "rename, bool defaults, tombstone filter, retrieved stamp, materialized "
    "age column). The oracle re-derives every field from the SAME JSON "
    "literals in SQL.",
)
def q_wire_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hnarchive_spark.schema import normalize_wire, parse_wire_json

    raw = spark.createDataFrame([(p,) for p in _WIRE_PAYLOADS], "payload string")
    return normalize_wire(parse_wire_json(raw), retrieved_at=_RETRIEVED)


# ---------------------------------------------------------------------------
# q_tree_closure
# ---------------------------------------------------------------------------

_TREE_ROOTS = (1, 40)


def _tree_oracle_sql() -> str:
    items_sql = FX.values_sql(FX.TREE_ITEMS, FX.ITEM_COLS)
    roots = ", ".join(str(r) for r in _TREE_ROOTS)
    return f"""
    WITH RECURSIVE it AS ({items_sql}),
    closure AS (
      SELECT id AS root_id, id, 0 AS depth FROM it WHERE id IN ({roots})
      UNION ALL
      SELECT c.root_id, i.id, c.depth + 1 AS depth
      FROM it i JOIN closure c ON i.parent = c.id
    )
    SELECT CAST(root_id AS BIGINT) AS root_id, CAST(id AS BIGINT) AS id,
           CAST(depth AS INTEGER) AS depth
    FROM closure
    """


@query(
    "q_tree_closure",
    oracle=_tree_oracle_sql(),
    doc="G1 build_item_tree (hnarchive.py:306-319) as a recursive CTE "
    "(engine-internal fixpoint, single job) instead of "
    "O(nodes) point queries.",
)
def q_tree_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = FX.items_df(spark, FX.TREE_ITEMS)
    return tree_closure(items, _TREE_ROOTS)


# ---------------------------------------------------------------------------
# q_children_sorted (Q6 / G2)
# ---------------------------------------------------------------------------


def _children_oracle_sql() -> str:
    items_sql = FX.values_sql(FX.TREE_ITEMS, FX.ITEM_COLS)
    return f"""
    WITH it AS ({items_sql})
    SELECT parent, id,
           row_number() OVER (PARTITION BY parent ORDER BY time, id) AS rnk
    FROM it WHERE parent IS NOT NULL
    """


@query(
    "q_children_sorted",
    oracle=_children_oracle_sql(),
    doc="Q6 per-parent time sort (hnarchive.py:350): the render-time child "
    "ordering as a window, shuffling once on parent.",
)
def q_children_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = FX.items_df(spark, FX.TREE_ITEMS)
    w = Window.partitionBy("parent").orderBy("time", "id")
    return (
        items.filter(F.col("parent").isNotNull())
        .select("parent", "id", F.row_number().over(w).alias("rnk"))
    )


# ---------------------------------------------------------------------------
# q_fix_ptags (F1 + F7)
# ---------------------------------------------------------------------------


def _ptags_oracle_sql() -> str:
    items_sql = FX.values_sql(FX.TREE_ITEMS, FX.ITEM_COLS)
    return f"""
    WITH it AS ({items_sql})
    SELECT id,
           '<p>' || replace(text, '<p>', '</p><p>') || '</p>' AS fixed,
           'https://news.ycombinator.com/item?id=' || CAST(id AS VARCHAR) AS item_url,
           'https://news.ycombinator.com/user?id=' || author AS user_url
    FROM it WHERE text IS NOT NULL
    """


@query(
    "q_fix_ptags",
    oracle=_ptags_oracle_sql(),
    doc="F1 _fix_ptags HTML repair (hnarchive.py:294-304) + F7 URL templates, "
    "as pure JVM-side column expressions (no UDF).",
)
def q_fix_ptags(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = FX.items_df(spark, FX.TREE_ITEMS)
    return items.filter(F.col("text").isNotNull()).select(
        "id",
        fix_ptags("text").alias("fixed"),
        hn_item_url("id").alias("item_url"),
        hn_user_url("author").alias("user_url"),
    )


# ---------------------------------------------------------------------------
# q_display_date (F4)
# ---------------------------------------------------------------------------


@query(
    "q_display_date",
    oracle="""
    SELECT event_id, strftime(ts, '%Y %b %d %H:%M:%S') AS shown
    FROM events WHERE event_id < 100
    """,
    doc="F4 epoch -> '%Y %b %d %H:%M:%S' display formatting "
    "(hnarchive.py:336-337,417-418), UTC session timezone.",
)
def q_display_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    return ev.select("event_id", display_date(F.unix_timestamp(F.col("ts"))).alias("shown"))


# ---------------------------------------------------------------------------
# q_store_changelog (CDC view of one U1 merge)
# ---------------------------------------------------------------------------


def _changelog_oracle_sql() -> str:
    diff_cols = [c for c in FX.ITEM_COLS if c != "id"]
    n_changed = "\n             + ".join(
        f"CASE WHEN m.{c} IS DISTINCT FROM b0.{c} THEN 1 ELSE 0 END"
        for c in diff_cols
    )
    return f"""
    WITH merged AS ({_merge_oracle_sql()}),
    b0 AS ({FX.values_sql(FX.MERGE_BASE, FX.ITEM_COLS)})
    SELECT m.id,
           CASE WHEN b0.id IS NULL THEN 'insert'
                WHEN ({n_changed}) > 0 THEN 'update'
                ELSE 'unchanged' END AS change_type,
           CAST(CASE WHEN b0.id IS NULL THEN -1 ELSE ({n_changed}) END
                AS BIGINT) AS n_changed_cols
    FROM merged m LEFT JOIN b0 ON b0.id = m.id
    """


@query(
    "q_store_changelog",
    oracle=_changelog_oracle_sql(),
    doc="CDC changelog of one U1 merge: post-merge state diffed against the "
    "pre-merge store, each id classified insert / update / unchanged with "
    "the count of columns that actually changed (IS DISTINCT FROM — "
    "null-safe, so a NULL->value transition counts; inserts report -1). "
    "This is the change feed a downstream consumer (cache invalidation, "
    "search indexing, the reference's html_render refresh) tails instead "
    "of rescanning the store. One left join on id over the same merge "
    "plan q_merge_coalesce locks; at scale the diff join is partition-"
    "pruned to the merge's touched id buckets exactly like "
    "ItemsStore.merge_batch.",
)
def q_store_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = FX.items_df(spark, FX.MERGE_BASE)
    updates = FX.items_df_with_seq(spark, FX.MERGE_UPDATES)
    merged = merge_items(base, updates, seq_col="seq")
    diff_cols = [c for c in FX.ITEM_COLS if c != "id"]
    b = base.select(
        F.col("id").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in diff_cols],
    )
    j = merged.join(b, merged["id"] == b["b_id"], "left")
    n_changed = None
    for c in diff_cols:
        term = F.expr(f"CASE WHEN {c} IS DISTINCT FROM b_{c} THEN 1 ELSE 0 END")
        n_changed = term if n_changed is None else n_changed + term
    return j.select(
        "id",
        F.when(F.col("b_id").isNull(), "insert")
        .when(n_changed > 0, "update")
        .otherwise("unchanged")
        .alias("change_type"),
        F.when(F.col("b_id").isNull(), -1)
        .otherwise(n_changed)
        .cast("long")
        .alias("n_changed_cols"),
    )


# ---------------------------------------------------------------------------
# q_subtree_agg (per-node subtree metrics over the full forest closure)
# ---------------------------------------------------------------------------


def _subtree_oracle_sql() -> str:
    items_sql = FX.values_sql(FX.TREE_ITEMS, FX.ITEM_COLS)
    return f"""
    WITH RECURSIVE it AS ({items_sql}),
    closure AS (
      SELECT id AS root_id, id, 0 AS depth FROM it
      UNION ALL
      SELECT c.root_id, i.id, c.depth + 1 AS depth
      FROM it i JOIN closure c ON i.parent = c.id
    )
    SELECT c.root_id AS id, count(*) AS subtree_size,
           CAST(max(c.depth) AS BIGINT) AS subtree_height,
           CAST(coalesce(sum(i.score), 0) AS BIGINT) AS subtree_score
    FROM closure c JOIN it i ON i.id = c.id
    GROUP BY c.root_id
    """


@query(
    "q_subtree_agg",
    oracle=_subtree_oracle_sql(),
    doc="Per-node subtree metrics (size, height, score mass) for EVERY node "
    "of the forest — the aggregate behind the reference's descendants "
    "counter (hnarchive.py item field `descendants`) generalized to any "
    "measure. One all-roots transitive closure (each node seeds its own "
    "subtree; the recursive CTE runs the fixpoint engine-side exactly as "
    "q_tree_closure) then a single groupBy on the subtree root. Closure "
    "size is sum of subtree sizes = O(nodes * avg_depth) — bounded by "
    "forest depth, the standard closure-table tradeoff; for the HN "
    "comment graph depth is tens, not thousands.",
)
def q_subtree_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = FX.items_df(spark, FX.TREE_ITEMS)
    roots = tuple(r["id"] for r in FX.TREE_ITEMS)
    closure = tree_closure(items, roots)
    sc = items.select(F.col("id").alias("sid"), "score")
    return (
        closure.join(sc, closure["id"] == sc["sid"])
        .groupBy(F.col("root_id").alias("id"))
        .agg(
            F.count(F.lit(1)).alias("subtree_size"),
            F.max("depth").cast("long").alias("subtree_height"),
            F.coalesce(F.sum("score"), F.lit(0)).cast("long").alias("subtree_score"),
        )
    )
