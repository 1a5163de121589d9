"""The validation engine: DataFrames in, verdicts + violations out.

Lifecycle (SURVEY.md §3.4): schema JSON → [driver] parse → expand ($ref DAG
with bounded cycle unroll) → compile to SQL expression text → [Catalyst]
whole-stage-codegen evaluation over the corpus → violations DataFrame +
per-partition verdict rollup.

Modes:

- ``validate_variant``: open-shape JSON documents in a VARIANT column
- ``validate_json``: JSON strings (``parse_json`` first)
- ``validate_typed``: schema-declared columns — the whole row (or a chosen
  struct column) is the "object" being validated; all type dispatch
  constant-folds against the table schema. This is the 100-TB hot path for
  the interleaved documents table.
"""

from __future__ import annotations

import hashlib as _hashlib
import json as _json
import os
import re
from collections import OrderedDict
from typing import List, Optional, Union

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .config import configuration

from .compile.columnar import (ColumnarCompiler, Compiled, _coalesce_errors,
                               _flatten_errors)
from .compile.formats import register_format_udfs
from .compile.values import TypedValue, VariantValue, variant_sql_udf_ddl
from .document_store import DocumentStore
from .errors import AggregateError
from .expander import ReferenceExpander
from .parser import Parser
from .schema import SchemaNode

VALID_COL = "is_valid"
ERRORS_COL = "violations"
_PRE_REF = re.compile(r"__jss_\w+")


def compile_schema(schema: Union[dict, SchemaNode],
                   store: Optional[DocumentStore] = None) -> SchemaNode:
    """Parse + expand a schema document (driver-side, once)."""
    if isinstance(schema, dict):
        node = Parser().parse_bang(schema)
    else:
        node = schema
    expander = ReferenceExpander()
    if not expander.expand(node, store=store):
        raise AggregateError(expander.errors)
    return node


class ValidationResult:
    """A lazily-annotated DataFrame plus derived views."""

    def __init__(self, annotated: DataFrame, id_cols: List[str],
                 has_errors: bool = True):
        self.annotated = annotated
        self.id_cols = id_cols
        self.has_errors = has_errors

    @property
    def violations(self) -> DataFrame:
        """(id..., path, error_type, schema_pointer, message, sub_errors,
        data_json) — one row per violation (error-ordering matches the
        reference's traversal order within a document; data_json carries the
        offending datum, the reference's error_data, error.rb:39-59)."""
        e = F.explode(ERRORS_COL).alias("e")
        return (
            self.annotated
            .where(F.size(ERRORS_COL) > 0)
            .select(*self.id_cols, e)
            .select(
                *self.id_cols,
                F.col("e.path").alias("path"),
                F.col("e.error_type").alias("error_type"),
                F.col("e.schema_pointer").alias("schema_pointer"),
                F.col("e.message").alias("message"),
                F.col("e.sub_errors").alias("sub_errors"),
                F.col("e.data_json").alias("data_json"),
            )
        )

    @property
    def verdicts(self) -> DataFrame:
        """Per-partition pass/fail rollup: one row per input partition.

        Cheap by construction: a map-side partial aggregation keyed on
        spark_partition_id() — the shuffle carries one row per partition.
        """
        aggs = [
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col(VALID_COL).cast("long")).alias("valid_docs"),
            F.sum((~F.col(VALID_COL)).cast("long")).alias("invalid_docs"),
        ]
        if self.has_errors:
            aggs.append(F.sum(F.size(ERRORS_COL).cast("long")).alias("violation_count"))
        return (
            self.annotated
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*aggs)
        )

    def counts(self) -> dict:
        aggs = [
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col(VALID_COL).cast("long")).alias("valid_docs"),
        ]
        if self.has_errors:
            aggs.append(F.sum(F.size(ERRORS_COL).cast("long")).alias("violations"))
        row = self.annotated.select(*aggs).collect()[0]
        return {
            "docs": row["docs"],
            "valid_docs": row["valid_docs"] or 0,
            "violations": (row["violations"] or 0) if self.has_errors else None,
        }


class ValidationEngine:
    def __init__(self, spark: SparkSession, max_unroll_depth: Optional[int] = None,
                 max_ref_depth: Optional[int] = None,
                 disk_cache_dir: Optional[str] = None):
        self.spark = spark
        self.max_unroll_depth = max_unroll_depth
        self.max_ref_depth = max_ref_depth
        # disk compile cache: None -> $JSS_COMPILE_CACHE_DIR if set, else
        # ~/.cache/json_schema_spark/compile; "" disables
        if disk_cache_dir is None:
            disk_cache_dir = os.environ.get(
                "JSS_COMPILE_CACHE_DIR",
                os.path.join(os.path.expanduser("~"), ".cache",
                             "json_schema_spark", "compile"))
        self._disk_cache_dir = disk_cache_dir or None
        register_format_udfs(spark)
        for ddl in variant_sql_udf_ddl():
            spark.sql(ddl)
        # Codegen-time subexpression elimination does a quadratic equivalence
        # search; on compiled-schema expression trees (10k+ nodes) it hangs
        # for minutes. Interpreted/codegen execution without it is fast
        # (measured: >400s -> ~2s on the test scaffold). The compiler instead
        # de-duplicates the shared variant accessors itself: each distinct
        # tag, cast and child-variant text is pre-projected once
        # (ColumnarCompiler.hoist).
        spark.conf.set("spark.sql.subexpressionElimination.enabled", "false")
        # Constraint propagation walks every alias in a Project to infer
        # filters/nullability — quadratic over compiled-schema expression
        # trees (measured: OOM on a 20-keyword scaffold schema with 12 GiB
        # of driver heap; fine with this off). Our validation plans gain
        # nothing from inferred constraints: no joins below the predicates.
        spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
        # Compiled-schema plans generate huge codegen functions; the default
        # split threshold (1024) leaves methods too big for the JIT's
        # compilation limits, so early passes run interpreted (measured:
        # first+warmup 60+30+9 s vs 26+4 s at 512, same steady-state floor).
        spark.conf.set("spark.sql.codegen.methodSplitThreshold", "512")

    def _compiler(self) -> ColumnarCompiler:
        return ColumnarCompiler(max_unroll_depth=self.max_unroll_depth,
                                max_ref_depth=self.max_ref_depth)

    # parse → expand → emit-SQL is pure driver-side text generation, and at
    # ~5 s for a 20-keyword schema it dominates repeated submissions of the
    # same schema (streaming micro-batches, per-partition resume, bench
    # warm passes). The emitted artifacts are plain strings — (valid, errors)
    # SQL per part plus (name, sql) preprojections — so they cache safely
    # keyed by canonical schema JSON + compiler bounds + the configuration
    # version (any config change invalidates). Schemas passed as pre-parsed
    # nodes or with an external document store skip the cache: their
    # contents can change without the key changing.
    _COMPILE_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
    _COMPILE_CACHE_MAX = 64
    _DISK_CACHE_FMT = 4  # bump on any change to the serialized shape

    def _cached_compile(self, mode_key: tuple, schema, store, build):
        # an EMPTY document store is inert (external $refs fail identically
        # with or without it — the CLI always passes one), so only a store
        # with registered schemas defeats the cache
        if not isinstance(schema, dict) or (store is not None and len(store)):
            return build()
        try:
            schema_key = _json.dumps(schema, sort_keys=True)
        except TypeError:  # non-JSON-serializable payload: don't cache
            return build()
        key = (mode_key, schema_key, self.max_unroll_depth,
               self.max_ref_depth, configuration()._version)
        cache = ValidationEngine._COMPILE_CACHE
        hit = cache.get(key)
        if hit is not None:
            cache.move_to_end(key)
            return hit
        disk_key = self._disk_cache_key(mode_key, schema_key)
        out = self._disk_cache_get(disk_key)
        if out is None:
            out = build()
            self._disk_cache_put(disk_key, out)
        cache[key] = out
        while len(cache) > ValidationEngine._COMPILE_CACHE_MAX:
            cache.popitem(last=False)
        return out

    # The in-memory cache dies with the driver; repeated spark-submit jobs
    # over the same schema re-pay the whole parse -> expand -> emit pass
    # every launch. The artifacts are plain strings, so they round-trip
    # through JSON on disk — write-through on compile, read-through on an
    # in-memory miss. The disk key must be valid ACROSS sessions, so it
    # uses the config's CONTENT (the in-memory key's ``_version`` is a
    # session-local mutation counter: two sessions can reach the same
    # counter with different settings) plus the package version (an
    # upgrade that changes emitted SQL must never serve the old text).
    # Custom format COLUMN BUILDERS shape the emitted SQL through an
    # unkeyable callable — their presence disables the disk cache (name
    # -only custom formats are fine: the SQL calls the UDF by name and the
    # predicate binds at runtime registration). All disk IO is best-effort:
    # a cold/corrupt/unwritable cache silently falls back to compiling
    # (validation correctness must never depend on cache health).

    def _disk_cache_key(self, mode_key: tuple, schema_key: str) -> Optional[str]:
        if self._disk_cache_dir is None:
            return None
        cfg = configuration()
        if cfg._custom_format_columns:
            return None
        from . import __version__

        cfg_key = _json.dumps([cfg.validate_regex_with, cfg.all_of_sub_errors,
                               cfg.max_unroll_depth, cfg.max_ref_depth,
                               sorted(cfg._custom_formats)])
        return repr((mode_key, schema_key, self.max_unroll_depth,
                     self.max_ref_depth, cfg_key, __version__,
                     ValidationEngine._DISK_CACHE_FMT))

    def _disk_cache_path(self, disk_key: Optional[str]) -> Optional[str]:
        if disk_key is None:
            return None
        digest = _hashlib.sha256(disk_key.encode("utf-8")).hexdigest()
        return os.path.join(self._disk_cache_dir, f"{digest}.json")

    def _disk_cache_get(self, disk_key: Optional[str]):
        path = self._disk_cache_path(disk_key)
        if path is None:
            return None
        try:
            with open(path, "r", encoding="utf-8") as fh:
                blob = _json.load(fh)
            if blob.get("fmt") != ValidationEngine._DISK_CACHE_FMT:
                return None
            parts = [Compiled(v, e) for v, e in blob["parts"]]
            rest = [[tuple(item) for item in group] for group in blob["rest"]]
            return (parts, *rest)
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def _disk_cache_put(self, disk_key: Optional[str], out: tuple) -> None:
        path = self._disk_cache_path(disk_key)
        if path is None:
            return
        try:
            blob = {"fmt": ValidationEngine._DISK_CACHE_FMT,
                    "parts": [[p.valid, p.errors] for p in out[0]],
                    "rest": [[list(item) for item in group]
                             for group in out[1:]]}
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp.{os.getpid()}"
            with open(tmp, "w", encoding="utf-8") as fh:
                _json.dump(blob, fh)
            os.replace(tmp, path)  # atomic: concurrent jobs never see a torn file
        except (OSError, ValueError, TypeError):
            pass

    def _annotate(self, df: DataFrame, parts: List[Compiled],
                  id_cols: Optional[List[str]],
                  verdict_only: bool = False,
                  fail_fast: bool = False,
                  preprojections: Optional[List[tuple]] = None) -> ValidationResult:
        # ColumnarCompiler.preprojections become real columns first, one
        # withColumns per dependency level (a column's level is one past the
        # deepest earlier pre-projection its SQL names): every stacked
        # Project adds Catalyst optimization and planning time. Columns no
        # part reads are pruned by Catalyst.
        levels = {}
        groups: List[dict] = []
        for name, sql in preprojections or []:
            level = 1 + max((levels[ref] for ref in _PRE_REF.findall(sql)
                             if ref in levels), default=-1)
            levels[name] = level
            if level == len(groups):
                groups.append({})
            groups[level][name] = F.expr(sql)
        for group in groups:
            df = df.withColumns(group)
        pre_names = list(levels)
        # one column per root keyword part: many shallow expressions analyze
        # far faster than one deep combined tree (see compile_parts)
        n = len(parts)
        if verdict_only:
            # fail-fast analog (validator.rb:16-31): pure predicates, no
            # violation materialization — codegen short-circuits the ANDs
            part_cols = {f"__jss_v{i}": F.expr(p.valid) for i, p in enumerate(parts)}
            valid_expr = " AND ".join(f"__jss_v{i}" for i in range(n))
            annotated = (
                df.withColumns(part_cols)
                .withColumn(VALID_COL, F.expr(valid_expr))
                .drop(*part_cols.keys(), *pre_names)
            )
            return ValidationResult(annotated, id_cols or [], has_errors=False)

        # full mode: a document is valid iff it has no violations (same
        # equivalence the reference relies on, validator.rb:30), so is_valid
        # derives from the errors array — the keyword predicates are
        # evaluated once, not twice
        part_cols = {f"__jss_e{i}": F.expr(p.errors) for i, p in enumerate(parts)}
        if n > 1:
            errors_expr = _coalesce_errors(
                _flatten_errors("array(" + ", ".join(f"__jss_e{i}" for i in range(n)) + ")"))
        else:
            errors_expr = _coalesce_errors("__jss_e0")
        if fail_fast:
            # reference fail_fast (validator.rb:16-31) aborts at the FIRST
            # error but still reports it; set-at-a-time the analog is a
            # truncation — parts compile in reference dispatch order, so
            # element 1 is the first error of the traversal
            errors_expr = f"slice({errors_expr}, 1, 1)"
        annotated = (
            df.withColumns(part_cols)
            .withColumn(ERRORS_COL, F.expr(errors_expr))
            .withColumn(VALID_COL, F.size(F.col(ERRORS_COL)) == 0)
            .drop(*part_cols.keys(), *pre_names)
        )
        return ValidationResult(annotated, id_cols or [])

    # --- open-shape documents -------------------------------------------

    def validate_variant(self, df: DataFrame, variant_col: str,
                         schema: Union[dict, SchemaNode],
                         id_cols: Optional[List[str]] = None,
                         store: Optional[DocumentStore] = None,
                         verdict_only: bool = False,
                         fail_fast: bool = False) -> ValidationResult:
        def build():
            node = compile_schema(schema, store)
            compiler = self._compiler()
            value = VariantValue(variant_col, hoist=compiler.hoist)
            parts = compiler.compile_parts(node, value)
            return parts, compiler.preprojections

        parts, preprojections = self._cached_compile(
            ("variant", variant_col), schema, store, build)
        return self._annotate(df, parts, id_cols, verdict_only=verdict_only,
                              fail_fast=fail_fast,
                              preprojections=preprojections)

    def validate_json(self, df: DataFrame, json_col: str,
                      schema: Union[dict, SchemaNode],
                      id_cols: Optional[List[str]] = None,
                      store: Optional[DocumentStore] = None,
                      verdict_only: bool = False,
                      fail_fast: bool = False) -> ValidationResult:
        df = df.withColumn("__doc", F.parse_json(F.col(json_col)))
        result = self.validate_variant(df, "__doc", schema, id_cols=id_cols,
                                       store=store, verdict_only=verdict_only,
                                       fail_fast=fail_fast)
        result.annotated = result.annotated.drop("__doc")
        return result

    # --- typed columns -----------------------------------------------------

    def validate_typed(self, df: DataFrame,
                       schema: Union[dict, SchemaNode],
                       doc_col: Optional[str] = None,
                       id_cols: Optional[List[str]] = None,
                       store: Optional[DocumentStore] = None,
                       verdict_only: bool = False,
                       fail_fast: bool = False) -> ValidationResult:
        """Validate typed rows. When ``doc_col`` is None the whole row is the
        JSON object (each column a property); otherwise the named
        struct/array/map column is."""
        def build():
            node = compile_schema(schema, store)
            value = self._typed_value(node, df, doc_col)
            compiler = self._compiler()
            parts = compiler.compile_parts(node, value)
            return parts, compiler.preprojections

        parts, preprojections = self._cached_compile(
            ("typed", doc_col, df.schema.simpleString()), schema, store, build)
        return self._annotate(df, parts, id_cols, verdict_only=verdict_only,
                              fail_fast=fail_fast,
                              preprojections=preprojections)

    def _typed_value(self, node: SchemaNode, df: DataFrame,
                     doc_col: Optional[str]) -> TypedValue:
        if doc_col is not None:
            dtype = df.schema[doc_col].dataType
            value = TypedValue(doc_col, dtype)
        else:
            # column pruning: when no whole-object keyword needs the full
            # key set (additional/strict/min/maxProperties), the row-struct
            # only includes columns the schema actually touches — Catalyst
            # then prunes the parquet ReadSchema to those columns, which is
            # the difference between scanning 2 columns and 2 TB at scale
            fields = df.schema.fields
            needs_all = (
                node.additional_properties is not None
                or node.strict_properties
                or node.max_properties is not None
                or node.min_properties is not None
                or node.pattern_properties
                or node.all_of or node.any_of or node.one_of or node.not_ is not None
                # a schema-form dependency re-validates the whole root object:
                # its required/properties targets must survive pruning
                or any(isinstance(dep, SchemaNode)
                       for dep in (node.dependencies or {}).values())
            )
            if not needs_all:
                touched = set(node.required or []) | set((node.properties or {}).keys())
                touched |= {k for k in (node.dependencies or {})}
                for dep in (node.dependencies or {}).values():
                    if isinstance(dep, list):
                        touched.update(dep)
                pruned = [f for f in fields if f.name in touched]
                if pruned:
                    fields = pruned
            struct_type = T.StructType(fields)
            cols = ", ".join(f"'{f.name}', {f.name}" for f in fields)
            value = TypedValue(f"named_struct({cols})", struct_type)
        return value
