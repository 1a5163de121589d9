"""Table-level uniqueness: the corpus generalization of ``uniqueItems``
(reference: validator.rb:539-548 checks one array; the north_rule lifts it to
the doc_id column of a 10^12-row table).

Scale notes:

- ``duplicate_keys`` is a plain count aggregation. Spark's hash aggregate
  always does a map-side partial pass, so even a pathologically hot key
  contributes at most one row *per map partition* to the shuffle — counting
  is skew-safe without salting. (Salting matters when the *value list* per
  key must be materialized, not for counts.)
- ``duplicate_key_rows`` joins the duplicate key set back to the table. The
  dup-key side is usually tiny → broadcast hash join, zero extra shuffle of
  the big side. When it isn't, AQE's skew-join splitting handles hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """(key, dup_count) for every key appearing more than once."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def duplicate_key_rows(df: DataFrame, key: str, broadcast_threshold: int = 10_000_000) -> DataFrame:
    """All rows participating in a duplicated key (violation rows)."""
    dups = duplicate_keys(df, key).select(key)
    return df.join(F.broadcast(dups), key, "left_semi")


def uniqueness_report(df: DataFrame, key: str) -> dict:
    row = (
        df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(key).alias("distinct_keys"),
        ).collect()[0]
    )
    return {
        "rows": row["rows"],
        "distinct_keys": row["distinct_keys"],
        "duplicate_rows": row["rows"] - row["distinct_keys"],
        "unique": row["rows"] == row["distinct_keys"],
    }
