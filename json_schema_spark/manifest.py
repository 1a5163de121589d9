"""Checkpoint-resumable validation runs with a per-partition manifest.

North-rule requirement: a killed job resumes without re-validating
completed partitions, with lineage + metrics (partition id, rows scanned,
violations, sketch digests) recorded per partition.

Design (batch, not Structured Streaming — SURVEY.md §4):

- Work is keyed by a *stable* bucket derived from the data itself —
  ``pmod(xxhash64(doc_id), n_buckets)`` — never by
  ``spark_partition_id()``, which changes with splits/parallelism. The
  same (corpus, n_buckets) always yields the same bucket→doc mapping.
- The corpus is staged once as a bucket-partitioned parquet layout,
  rebalanced by bucket first so AQE writes about one file per bucket (split
  at the advisory partition size) instead of one per (input split ×
  bucket). The price is one shuffle of the corpus during staging — the
  hash-distribution write an Iceberg bucket-partitioned table also does.
- Each run processes buckets in groups, and each group is ONE data pass:
  the per-bucket manifest stats are observed metrics
  (``DataFrame.observe``) of the violations write, taken above the
  validation kernel and below the violations filter so they see every row.
  After the write lands, the group's manifest rows are appended from the
  observed values as a driver-built literal frame (one parquet file per
  commit); every bucket of the group gets a row, an empty one too.
- Resume = read manifest, collect completed bucket ids (a few thousand
  ints), and filter them out of the scan. On a bucket-partitioned Iceberg/
  parquet layout that filter is partition pruning; on an unpartitioned one
  it is still a pushed-down scan predicate over a derived column.
- The manifest also carries per-bucket sketch digests (row counts, verdict
  counts, violation counts, value-range digests) so a completed run's
  corpus stats merge from the manifest alone.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import List, Optional, Union

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from .engine import ERRORS_COL, VALID_COL, ValidationEngine
from .schema import SchemaNode

BUCKET_COL = "__jss_bucket"

MANIFEST_SCHEMA = ("run_id string, bucket int, rows long, valid_docs long, "
                   "violations long, digest string, status string, "
                   "committed_at timestamp")


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — any scheme Hadoop knows (local,
    file:, hdfs:, s3a:), not only local paths."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def ensure_bucketed_staging(spark: SparkSession, df: DataFrame, key: str,
                            n_buckets: int, staging_path: str) -> DataFrame:
    """Materialize ``df`` once as a bucket-PARTITIONED parquet layout
    (directory per bucket) and return a reader over it. Idempotent: an
    existing complete staging (_SUCCESS) is reused — that is what makes
    resume cheap: per-group bucket filters become partition pruning (each
    commit group scans only its own directories) instead of n_buckets /
    buckets_per_commit full scans of the corpus. On Iceberg the input table
    itself would be bucket-partitioned and this step disappears.

    The write is rebalanced by bucket (one shuffle of the corpus), so AQE
    writes about one file per bucket directory, split at the advisory
    partition size, instead of one per (input split × bucket)."""
    fs, success = _hadoop_path(spark, staging_path.rstrip("/") + "/_SUCCESS")
    if not fs.exists(success):
        (with_bucket(df, key, n_buckets).hint("rebalance", BUCKET_COL)
         .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging_path))
    return spark.read.parquet(staging_path)


def _bucket_stats(bucket: int, key: str) -> List[Column]:
    """Observed metrics of one bucket: rows, valid docs, violations and the
    sketch digest (key range + distinct-count sketch, so corpus stats merge
    from the manifest alone without re-reading data), each an aggregate over
    the bucket's rows only. An empty bucket's digest has no key fields."""
    def of(col: Column) -> Column:
        return F.when(F.col(BUCKET_COL) == bucket, col)

    rows = F.count(of(F.lit(1)))
    n_errors = F.size(ERRORS_COL)
    return [
        rows.alias(f"rows_{bucket}"),
        F.coalesce(F.sum(of(F.col(VALID_COL).cast("long"))), F.lit(0))
        .alias(f"valid_docs_{bucket}"),
        F.coalesce(F.sum(of(n_errors.cast("long"))), F.lit(0))
        .alias(f"violations_{bucket}"),
        F.to_json(F.struct(
            F.min(of(F.col(key))).alias("key_min"),
            F.max(of(F.col(key))).alias("key_max"),
            F.when(rows > 0, F.approx_count_distinct(of(F.col(key))))
            .alias("key_distinct"),
            F.max(of(n_errors)).alias("max_doc_violations"),
        )).alias(f"digest_{bucket}"),
    ]


def _manifest_rows(spark: SparkSession, run_id: str, group: List[int],
                   observed: dict) -> DataFrame:
    """The group's manifest rows as a literal frame (no Python workers):
    one row per bucket, cast to ``MANIFEST_SCHEMA``."""
    rows = [F.struct(F.lit(run_id), F.lit(b), F.lit(observed[f"rows_{b}"]),
                     F.lit(observed[f"valid_docs_{b}"]),
                     F.lit(observed[f"violations_{b}"]),
                     F.lit(observed[f"digest_{b}"]), F.lit("done"),
                     F.current_timestamp())
            for b in group]
    return spark.range(1).select(F.inline(
        F.array(*rows).cast(f"array<struct<{MANIFEST_SCHEMA}>>")))


class RunManifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> Optional[DataFrame]:
        """The manifest table, or None before the first commit. Only a
        missing path reads as empty: an unreadable manifest raises, since
        treating it as empty would re-validate every bucket and append
        duplicate violation rows."""
        fs, hpath = _hadoop_path(self.spark, self.path)
        if not fs.exists(hpath):
            return None
        return self.spark.read.parquet(self.path)

    def completed_buckets(self) -> List[int]:
        df = self._read()
        if df is None:
            return []
        rows = (df.where(F.col("status") == "done")
                .select("bucket").distinct().collect())
        return sorted(r["bucket"] for r in rows)

    def append(self, rows_df: DataFrame) -> None:
        rows_df.coalesce(1).write.mode("append").parquet(self.path)

    def summary(self) -> dict:
        df = self._read()
        if df is None:
            return {"buckets": 0, "rows": 0, "violations": 0}
        agg = (df.where(F.col("status") == "done")
               .agg(F.countDistinct("bucket").alias("buckets"),
                    F.sum("rows").alias("rows"),
                    F.sum("violations").alias("violations")).collect()[0])
        return {"buckets": agg["buckets"] or 0, "rows": agg["rows"] or 0,
                "violations": agg["violations"] or 0}


@dataclass
class ResumableRun:
    run_id: str
    processed_buckets: List[int]
    skipped_buckets: List[int]
    violations_path: str


def validate_resumable(
    spark: SparkSession,
    df: DataFrame,
    schema: Union[dict, SchemaNode],
    manifest_path: str,
    violations_path: str,
    key: str = "doc_id",
    id_cols: Optional[List[str]] = None,
    n_buckets: int = 16,
    buckets_per_commit: int = 4,
    fail_after_buckets: Optional[int] = None,
    staging_path: Optional[str] = None,
    stage: bool = True,
) -> ResumableRun:
    """Validate ``df`` bucket-group by bucket-group, committing violations +
    manifest rows per group; a rerun with the same manifest path skips
    completed buckets. ``fail_after_buckets`` injects a mid-run crash for
    tests.

    ``stage=True`` (default) first materializes a bucket-partitioned copy at
    ``staging_path`` (default: <manifest_path>_staging) so every commit
    group — and every resume — scans only its own bucket directories via
    partition pruning. ``stage=False`` keeps the zero-copy path: the bucket
    filter is a pushed predicate over the unpartitioned input, which re-scans
    the corpus once per commit group (calibration only)."""
    engine = ValidationEngine(spark)
    manifest = RunManifest(spark, manifest_path)
    done = set(manifest.completed_buckets())
    run_id = uuid.uuid4().hex[:12]
    id_cols = id_cols or [key]

    if stage:
        staging_path = staging_path or manifest_path.rstrip("/") + "_staging"
        bucketed = ensure_bucketed_staging(spark, df, key, n_buckets, staging_path)
    else:
        bucketed = with_bucket(df, key, n_buckets)
    todo = [b for b in range(n_buckets) if b not in done]
    processed: List[int] = []

    for start in range(0, len(todo), buckets_per_commit):
        group = todo[start:start + buckets_per_commit]
        if fail_after_buckets is not None and len(processed) >= fail_after_buckets:
            raise RuntimeError(f"injected failure after {len(processed)} buckets")
        chunk = bucketed.where(F.col(BUCKET_COL).isin(group))
        result = engine.validate_typed(chunk.drop(BUCKET_COL), schema, id_cols=id_cols)
        # the stats ride on the violations write: observed above the kernel
        # and below the violations filter, so they see every row
        stats = Observation()
        annotated = (with_bucket(result.annotated, key, n_buckets)
                     .observe(stats, *[m for b in group
                                       for m in _bucket_stats(b, key)]))

        (annotated.where(F.size(ERRORS_COL) > 0)
         .select(*id_cols, F.col(BUCKET_COL).alias("bucket"),
                 F.explode(ERRORS_COL).alias("e"))
         .select(*id_cols, "bucket", "e.path", "e.error_type", "e.message")
         .write.mode("append").parquet(violations_path))

        manifest.append(_manifest_rows(spark, run_id, group, stats.get))
        processed.extend(group)

    return ResumableRun(
        run_id=run_id,
        processed_buckets=processed,
        skipped_buckets=sorted(done),
        violations_path=violations_path,
    )


def compact_violations(spark: SparkSession, violations_path: str,
                       target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Coalesce the violations sink's accumulated small files into
    ~``target_file_bytes``-sized ones (r4 VERDICT #8).

    Each commit group appends its own parquet files, so a long resumable
    run over thousands of buckets leaves the sink as thousands of tiny
    files — the classic small-files problem (every later scan pays one
    task + one footer read per file). This helper rewrites the sink at
    target size: read, ``repartition(ceil(bytes / target))``, write to a
    sibling temp dir, VERIFY the row count round-trips, then swap.

    Plain-parquet caveat: the delete-then-rename swap is not atomic — run
    it only while no writer is appending (between resumable runs), and a
    crash inside the swap window can require restoring from the temp dir
    left on disk. On Iceberg the same operation is the transactional
    ``rewrite_data_files`` procedure and this helper disappears.

    Returns {files_before, files_after, rows, compacted}; a sink already
    at or below the target file count is left untouched
    (``compacted=False``)."""
    import math

    fs, hpath = _hadoop_path(spark, violations_path)
    parts = [st for st in fs.listStatus(hpath)
             if st.getPath().getName().startswith("part-")]
    total_bytes = sum(st.getLen() for st in parts)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    if n_out >= len(parts):
        return {"files_before": len(parts), "files_after": len(parts),
                "rows": None, "compacted": False}

    df = spark.read.parquet(violations_path)
    rows_before = df.count()
    tmp = violations_path.rstrip("/") + "__compact_tmp"
    tmp_path = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:  # never swap in a lossy rewrite
        fs.delete(tmp_path, True)
        raise RuntimeError(
            f"compaction row count mismatch ({rows_after} != {rows_before}); "
            f"original sink left untouched")
    fs.delete(hpath, True)
    if not fs.rename(tmp_path, hpath):
        raise RuntimeError(
            f"rename {tmp} -> {violations_path} failed; compacted data is "
            f"intact at {tmp}")
    n_after = sum(1 for st in fs.listStatus(hpath)
                  if st.getPath().getName().startswith("part-"))
    return {"files_before": len(parts), "files_after": n_after,
            "rows": rows_before, "compacted": True}
