"""Column statistics: one-pass moments + HyperLogLog distinct sketches.

Corpus-level generalization of the reference's per-document counting
keywords (SURVEY.md §2.3 "aggregations"). Everything here is a single
aggregation pass: Catalyst's avg/stddev are already streaming (Welford-style
merge in ImperativeAggregate), approx_count_distinct is HLL++ with
partial+final merge, so the shuffle carries one sketch per column per map
partition — constant traffic regardless of row count. That is what survives
a 100 TB scan: no second pass, no wide shuffle.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, functions as F


def column_stats(df: DataFrame, cols: Optional[List[str]] = None,
                 rsd: float = 0.02) -> DataFrame:
    """One row per column: count / nulls / mean / stddev / min / max /
    approx_distinct. Numeric moments are null for non-numeric columns."""
    numeric_kinds = ("int", "bigint", "double", "float", "smallint", "tinyint", "decimal")
    out = []
    cols = cols or [f.name for f in df.schema.fields]
    aggs = []
    for c in cols:
        dt = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[c]
        is_num = any(dt.startswith(k) for k in numeric_kinds)
        # mean = exact decimal sum / count: parallel double summation is
        # order-dependent (CORRECTNESS_r01 lineitem_stats hash fail vs the
        # DuckDB oracle); decimal accumulation is exact at any parallelism,
        # and the one final division is deterministic IEEE
        exact_mean = (F.sum(F.col(c).cast("decimal(38,12)")).cast("double")
                      / F.count(F.col(c)))
        aggs.extend([
            F.count(F.lit(1)).alias(f"{c}__count"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            (exact_mean if is_num else F.lit(None).cast("double")).alias(f"{c}__mean"),
            (F.stddev_pop(c) if is_num else F.lit(None).cast("double")).alias(f"{c}__stddev"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.approx_count_distinct(c, rsd).alias(f"{c}__distinct"),
        ])
    row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    data = [
        (c, row[f"{c}__count"], row[f"{c}__nulls"], row[f"{c}__mean"],
         row[f"{c}__stddev"], row[f"{c}__min"], row[f"{c}__max"],
         row[f"{c}__distinct"])
        for c in cols
    ]
    return spark.createDataFrame(
        data,
        "column string, count long, nulls long, mean double, stddev double, "
        "min string, max string, approx_distinct long",
    )


def per_partition_stats(df: DataFrame, col: str) -> DataFrame:
    """Moments per input partition (feeds the run manifest's sketch digests).
    Map-side only: one output row per partition."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.avg(col).alias("mean"),
            F.stddev_pop(col).alias("stddev"),
            F.min(col).alias("min"),
            F.max(col).alias("max"),
            F.approx_count_distinct(col).alias("approx_distinct"),
        )
    )


def column_quantiles(df: DataFrame, col: str,
                     probs=(0.25, 0.5, 0.75),
                     group_by: Optional[str] = None,
                     exact: bool = False,
                     accuracy: int = 10_000) -> DataFrame:
    """Quantiles of ``col`` (optionally per ``group_by``), one column per
    probability (``p25``, ``p50``, ...).

    Default path is ``approx_percentile``: Spark's Greenwald-Khanna
    quantile-summary aggregate keeps a BOUNDED buffer per group
    (O(accuracy), here ±1/accuracy rank error) with mergeable map-side
    partials — the only shape that survives a 100-TB column. The
    deterministic-sketch alternative for drift pipelines is
    ``checks.tdigest``.

    ``exact=True`` opts into Spark's exact ``percentile``, which buffers
    EVERY value of a group in the aggregation buffer — sound only when
    each group is known to be driver-memory bounded (oracle calibration,
    low-cardinality dimensions; see q_quantity_quantiles). Never use it on
    an unbounded column: a 10^9-row group is an executor OOM, not a slow
    query."""
    plist = list(probs)
    if exact:
        pct = F.percentile(F.col(col), F.lit(plist))
    else:
        pct = F.approx_percentile(F.col(col), F.lit(plist), F.lit(accuracy))
    names = [("p%g" % (p * 100)).replace(".", "_") for p in plist]
    aggs = [pct[i].alias(n) for i, n in enumerate(names)]
    if group_by is not None:
        return df.groupBy(group_by).agg(*aggs)
    return df.agg(*aggs)
