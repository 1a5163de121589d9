"""CLI driver — the ``validate-schema`` analog (reference:
bin/validate-schema + lib/commands/validate_schema.rb), spark-submit-ready:

    spark-submit --py-files json_schema_spark.zip -m json_schema_spark.cli \\
        --schema schema.json --data /data/docs.parquet \\
        --violations /out/violations --manifest /out/manifest

Modes:
- ``--data`` parquet + ``--schema``: typed validation of the table
- ``--json-col``: validate a JSON-string column instead of typed rows
- ``--detect``: validate documents against the draft-4 meta-schema
  (schema-validates-schema, validate_schema.rb:39-49)
- ``--extra-schemas``: pre-register documents for cross-document $refs
  (the ``-s`` flag analog, validate_schema.rb:65-74)
- ``--docs``: validate individual JSON *or YAML* document files (the
  reference's front door, validate_schema.rb:101-116) — parsed driver-side,
  validated through the same compiled plan
- ``--manifest``: checkpoint-resumable run (partition-granular)
"""

from __future__ import annotations

import argparse
import json
import sys


def _load_document(path: str):
    """Parse a JSON or YAML file the way the reference front door does
    (validate_schema.rb:101-127: extension picks the parser, empty files and
    parse failures produce the reference's error wording)."""
    import os

    try:
        with open(path) as fh:
            text = fh.read()
    except FileNotFoundError:
        raise ValueError(f"{path}: No such file or directory.")
    if not text:
        raise ValueError(f"{path}: File is empty.")
    if os.path.splitext(path)[1] in (".yaml", ".yml"):
        try:
            import yaml
        except ImportError as exc:  # pragma: no cover - yaml is in the image
            raise ValueError(f"{path}: Invalid YAML.") from exc
        try:
            return yaml.safe_load(text)
        except yaml.YAMLError:
            raise ValueError(f"{path}: Invalid YAML.")
    try:
        return json.loads(text)
    except ValueError:
        raise ValueError(f"{path}: Invalid JSON. Try to validate using `jsonlint`.")


def _deep_annotated(spark, df, json_col: str, schema, store, id_col: str,
                    fail_fast: bool = False):
    """(id, is_valid, violations) via the deep engine — used for detect
    mode, where the schema (draft-4 meta above all) is cyclic and static
    compilation would unroll combinatorially."""
    from pyspark.sql import functions as F

    from .deep import DeepValidator

    out = DeepValidator(spark, schema, store).validate(
        df.withColumn("__v", F.parse_json(json_col)), "__v", id_col)
    annotated = out.select(F.col("doc_id").alias(id_col), "is_valid", "violations")
    if fail_fast:
        annotated = annotated.withColumn(
            "violations", F.slice("violations", 1, 1))
    return annotated


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="json-schema-spark",
                                description="Validate a document corpus against a JSON Schema")
    p.add_argument("--schema", help="path to the schema JSON or YAML file")
    p.add_argument("--data", help="parquet path of the documents table")
    p.add_argument("--docs", nargs="*", default=[],
                   help="individual JSON/YAML document files to validate "
                        "(the reference CLI's positional file arguments)")
    p.add_argument("--json-col", help="treat this column as JSON strings (variant mode)")
    p.add_argument("--id-col", default="doc_id", help="document id column")
    p.add_argument("--detect", action="store_true",
                   help="validate against the draft-4 meta-schema")
    p.add_argument("--extra-schemas", nargs="*", default=[],
                   help="schema JSON files to pre-register for cross-document $refs")
    p.add_argument("--violations", help="output parquet path for violation rows")
    p.add_argument("--verdicts", help="output parquet path for per-partition verdicts")
    p.add_argument("--manifest", help="manifest path: enables resumable bucketed runs")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--fail-fast", action="store_true",
                   help="report only the first error per document "
                        "(reference fail_fast semantics)")
    p.add_argument("--verdict-only", action="store_true",
                   help="skip violation materialization entirely "
                        "(cheapest mode; verdicts only)")
    p.add_argument("--format", default="auto",
                   choices=["auto", "parquet", "iceberg"],
                   help="table format for --data and sinks (iceberg needs "
                        "the runtime jar + catalog config; falls back to "
                        "parquet paths otherwise)")
    p.add_argument("--master", default=None)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("json-schema-spark")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()

    from .document_store import DocumentStore
    from .engine import ValidationEngine, compile_schema
    from .metaschema import DRAFT4_META_SCHEMA

    store = DocumentStore()
    if args.extra_schemas:
        from .parser import Parser

        for path in args.extra_schemas:
            with open(path) as fh:
                store.add_schema(Parser().parse_bang(json.load(fh)))

    if args.detect:
        # corpus mode validates against the draft-4 meta-schema; --docs
        # detect resolves each file's own $schema from the store, with the
        # meta-schema pre-registered for convenience — exactly the
        # reference's bin wiring (bin/validate-schema:17-20)
        from .parser import Parser

        meta_node = Parser().parse_bang(DRAFT4_META_SCHEMA)
        if store.lookup_schema(meta_node.uri) is None:
            store.add_schema(meta_node)
        schema = DRAFT4_META_SCHEMA
    elif args.schema:
        try:
            schema = _load_document(args.schema)
        except ValueError as exc:
            print(f"schema error: {exc}", file=sys.stderr)
            return 2
    else:
        print("error: --schema or --detect required", file=sys.stderr)
        return 2

    if not args.data and not args.docs:
        print("error: --data or --docs required", file=sys.stderr)
        return 2

    # fail on schema problems with the reference's error wording, not a
    # traceback (bin/validate-schema prints errors and exits non-zero)
    from .errors import AggregateError

    try:
        compile_schema(schema, store)
    except AggregateError as exc:
        print(f"schema error: {exc}", file=sys.stderr)
        return 2

    from .io_tables import read_table, write_table

    if args.docs:
        # single-file mode: parse driver-side (JSON or YAML), one row per
        # file, validated through the identical compiled variant plan
        try:
            parsed_docs = [(path, _load_document(path)) for path in args.docs]
        except ValueError as exc:
            print(f"document error: {exc}", file=sys.stderr)
            return 2

        # group files by the schema that validates them: --detect resolves
        # each file's $schema URI from the store (validate_schema.rb:39-49,
        # exact error wording); otherwise all files share --schema
        groups: dict = {}
        if args.detect:
            for path, data in parsed_docs:
                uri = data.get("$schema") if isinstance(data, dict) else None
                if not uri:
                    print(f"{path}: No $schema tag for detection.", file=sys.stderr)
                    return 2
                if store.lookup_schema(uri) is None:
                    print(f"{path}: Unknown $schema, try specifying one with -s.",
                          file=sys.stderr)
                    return 2
                groups.setdefault(uri, []).append((path, data))
        else:
            groups[None] = parsed_docs

        ok = True
        for uri, files in groups.items():
            group_schema = schema if uri is None else store.lookup_schema(uri)
            df = spark.createDataFrame(
                [(p, json.dumps(d)) for p, d in files],
                "doc_path string, doc string")
            if args.detect:
                # detected schemas (the meta-schema above all) are cyclic:
                # static compilation unrolls combinatorially, deep mode is
                # exact at any nesting depth with linear compile cost
                annotated = _deep_annotated(spark, df, "doc", group_schema,
                                            store, "doc_path",
                                            fail_fast=args.fail_fast)
            else:
                annotated = ValidationEngine(spark).validate_json(
                    df, "doc", group_schema, id_cols=["doc_path"],
                    store=store, fail_fast=args.fail_fast).annotated
            verdicts = {r["doc_path"]: r for r in
                        annotated.select("doc_path", "is_valid",
                                         "violations").collect()}
            for path, _ in files:
                row = verdicts[path]
                if row["is_valid"]:
                    print(f"{path} is valid.")
                else:
                    ok = False
                    # reference map_schema_errors: "#{file}#{error}" where
                    # the error reads "#/path: failed schema #/ptr: msg"
                    for e in row["violations"]:
                        print(f"{path}{e['path']}: failed schema "
                              f"{e['schema_pointer']}: {e['message']}",
                              file=sys.stderr)
        return 0 if ok else 1

    df = read_table(spark, args.data, fmt=args.format)

    if args.manifest:
        from .manifest import validate_resumable

        run = validate_resumable(
            spark, df, schema,
            manifest_path=args.manifest,
            violations_path=args.violations or args.manifest + "_violations",
            key=args.id_col, id_cols=[args.id_col], n_buckets=args.n_buckets,
        )
        print(json.dumps({
            "run_id": run.run_id,
            "processed_buckets": len(run.processed_buckets),
            "skipped_buckets": len(run.skipped_buckets),
        }))
        return 0

    if args.detect:
        if not args.json_col:
            print("error: --detect over --data requires --json-col "
                  "(schema documents are JSON strings)", file=sys.stderr)
            return 2
        from .engine import ValidationResult

        annotated = _deep_annotated(spark, df, args.json_col, schema, store,
                                    args.id_col, fail_fast=args.fail_fast)
        result = ValidationResult(annotated, [args.id_col])
    elif args.json_col:
        result = ValidationEngine(spark).validate_json(
            df, args.json_col, schema, id_cols=[args.id_col], store=store,
            verdict_only=args.verdict_only, fail_fast=args.fail_fast)
    else:
        result = ValidationEngine(spark).validate_typed(
            df, schema, id_cols=[args.id_col], store=store,
            verdict_only=args.verdict_only, fail_fast=args.fail_fast)

    if args.violations and not args.verdict_only:
        write_table(result.violations, args.violations, fmt=args.format,
                    mode="overwrite")
    if args.verdicts:
        write_table(result.verdicts, args.verdicts, fmt=args.format,
                    mode="overwrite")

    counts = result.counts()
    print(json.dumps(counts))
    # exit 1 when any document is invalid (bin/validate-schema:32-40 analog)
    return 0 if counts["valid_docs"] == counts["docs"] else 1


if __name__ == "__main__":
    sys.exit(main())
