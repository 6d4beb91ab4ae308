"""Scalar function library (SURVEY.md §2.6, F1-F9).

Everything here is a pure Column expression — JVM-side, inside whole-stage
codegen. No Python UDFs: at 100 TB a row-at-a-time Python function in the
hot path is the difference between minutes and days.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fix_ptags(text: Column | str) -> Column:
    """F1 — repair HN's unbalanced paragraph tags (hnarchive.py:294-304).

    HN sends ``a<p>b<p>c``; the reference rewrites every ``<p>`` to
    ``</p><p>`` and wraps the whole text in ``<p>...</p>``.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.concat(F.lit("<p>"), F.regexp_replace(c, "<p>", "</p><p>"), F.lit("</p>"))


def display_date(epoch: Column | str) -> Column:
    """F4 — unix epoch seconds -> ``2024 Jan 05 13:37:00`` display string
    (hnarchive.py:336-337, 417-418; strftime '%Y %b %d %H:%M:%S', UTC).

    Requires spark.sql.session.timeZone=UTC (set by session.get_spark).
    """
    c = F.col(epoch) if isinstance(epoch, str) else epoch
    return F.date_format(F.to_timestamp(F.from_unixtime(c)), "yyyy MMM dd HH:mm:ss")


def hn_item_url(item_id: Column | str) -> Column:
    """F7 — permalink template (hnarchive.py:330,338)."""
    c = F.col(item_id) if isinstance(item_id, str) else item_id
    return F.concat(F.lit("https://news.ycombinator.com/item?id="), c.cast("string"))


def hn_user_url(author: Column | str) -> Column:
    """F7 — user page template (hnarchive.py:411,419)."""
    c = F.col(author) if isinstance(author, str) else author
    return F.concat(F.lit("https://news.ycombinator.com/user?id="), c)
