"""Scalar function library — Column-expression re-implementations of the
reference's scalar transforms (SURVEY.md §2a F1-F18).

Everything here is a pure Column expression (JVM-side, whole-stage-codegen
eligible); no Python UDFs in this module. That is the load-bearing scale
decision: these run per-row over 100 TB, so they must stay inside Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_cookies(col) -> Column:
    """`"k=v; k2=v%202"` → map<string,string> with URL-decoded values.

    Reference `parse-cookies` (db.clj:136-144): split on ";", trim each
    pair, split on the FIRST "=", URL-decode the value. Built entirely
    from array HOFs + `map_from_entries` so it stays JVM-side. Pairs with
    no "=" get a NULL value (reference yields nil). Duplicate cookie keys
    keep the last occurrence (requires spark.sql.mapKeyDedupPolicy=
    LAST_WIN, asserted in session.tune()), matching the reference's
    `into {}` last-wins merge.
    """
    c = col if isinstance(col, Column) else F.col(col)
    pairs = F.filter(
        F.transform(F.split(c, ";"), lambda p: F.trim(p)),
        lambda p: p != F.lit(""),
    )
    entries = F.transform(
        pairs,
        lambda p: F.struct(
            F.trim(F.get(F.split(p, "=", 2), 0)).alias("key"),
            F.url_decode(F.get(F.split(p, "=", 2), 1)).alias("value"),
        ),
    )
    return F.map_from_entries(entries)



def epoch_ms_to_ts(col) -> Column:
    """Epoch milliseconds (int or numeric string) → timestamp
    (reference `epoch->date`, utils.clj:21-30)."""
    return F.timestamp_millis(col.cast("long") if isinstance(col, Column) else F.col(col).cast("long"))



def epoch_ms_to_datetime_str(col) -> Column:
    """Epoch ms → "yyyy-MM-dd'T'HH:mm:ss" (reference `epoch->datetime`,
    utils.clj:37-40). Invalid input → NULL (deviation from the reference's
    now() fallback, documented in FIXTURES.md §6)."""
    return F.date_format(epoch_ms_to_ts(col), "yyyy-MM-dd'T'HH:mm:ss")
