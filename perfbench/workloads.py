"""The four workloads. ``BENCHMARK.json`` names resumable_sink and
operator_mix, which between them load every layer; typed_corpus and
scaffold_compile are run by hand (see README.md for why).

One client drives each workload in a closed loop: the next call starts only
after the previous one returned. The loop's window opens at the first timed
call, which pays every cold cost (compile, Catalyst, codegen); warm calls
repeat until the window's seconds are spent, and at least as often as the
workload's minimum, so each median has enough samples. Outputs are checked
outside the timed calls.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import redirect_stdout

from . import checks, inputs
from .session import CORES, tree_cpu_s
from .trace import SparkLayers, median_or_zero

# layers whose spans have children, so self time differs from span time
# (parser, expander and compile spans are leaves: their *_ms are self
# times already, and engine's self time is engine.build_ms); "run" is the
# benchmark's own glue inside a timed call, i.e. time no layer accounts for
SELF_TIMED = ("cli", "exec", "io_tables", "manifest", "pipeline", "run")

# The similarity, sampling/text and asof modules, with the operators ROADMAP
# items 4 (prototypicality ranking, domain_top_quality prefilter) and 5
# (the top-k paths) target. Dropped to fit the run length, with their
# costs at the mix's table sizes on 4 cores: curated_corpus (23 builder
# jobs, 3.7 s warm; its DuckDB oracle alone takes 24 s), quality_corpus
# (2.4 s warm) and bpe_merges (32 builder jobs, 5.2 s warm).
MIX_QUERIES = ("ivf_topk", "prototypicality", "domain_budget_sample",
               "asof_click_before_purchase")


class Run:
    """One workload run inside one live session."""

    def __init__(self, spark, root, seed, seconds, tracer, layers, scratch):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.layers = layers  # SparkLayers in the traced run, else None
        self.scratch = scratch
        self.ops: list = []  # one dict per timed call, first call first
        self.failed_checks: list = []
        self.metrics: dict = {}  # per-layer values the workload adds

    def path(self, name: str) -> str:
        return os.path.join(self.scratch, name)

    def op(self, group: str, fn, groups=None) -> dict:
        """Time one closed-loop call under job group ``group``. The traced
        run also attributes Catalyst and codegen work to the call."""
        self.spark.sparkContext.setJobGroup(group, group)
        rec = {"groups": [group] if groups is None else groups, "ok": True}
        if self.layers is not None:
            self.layers.drain()
            self.layers.catalyst.ms.clear()
            self.layers.catalyst.active = True
            codegen0 = self.layers.codegen()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("run.op"):
            try:
                rec["value"] = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec["ok"] = False
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        if self.layers is not None:
            self.layers.drain()
            self.layers.catalyst.active = False
            rec["catalyst"] = dict(self.layers.catalyst.ms)
            rec["codegen"] = [b - a for a, b in zip(codegen0, self.layers.codegen())]
        self.ops.append(rec)
        return rec

    def loop(self, call, min_warm: int, warmup: int = 0) -> None:
        """``call(i)`` for i = 0, 1, ... The first call is cold; the next
        ``warmup`` calls, made while the JIT still compiles the hot paths,
        are left out of the warm medians; then calls go on until the window
        is spent and at least ``min_warm`` warm calls were made."""
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i <= warmup + min_warm or time.perf_counter() < t_end:
            rec = call(i)
            rec["warmup"] = 0 < i <= warmup
            if not rec.get("ok"):
                break  # a failing call would fail again: stop here
            i += 1

    def layer_metrics(self) -> dict:
        """Every per-layer metric of the traced run (see README.md).

        Executor counters are medians per timed call; driver-side layers
        (parse, expand, emit, engine, Catalyst, codegen) are totals over the
        calls, so their cold first call dominates."""
        t, c = self.tracer, self.tracer.counts
        ms = lambda name: 1000.0 * sum(t.durations(name, "run.op"))
        out = {
            "parser.parse_ms": ms("parser.parse"),
            "parser.nodes": c["parser.nodes"],
            "expander.expand_ms": ms("expander.expand"),
            "expander.refs": c["expander.refs"],
            "compile.emit_ms": ms("compile.emit"),
            "compile.parts": c["compile.parts"],
            "compile.sql_chars": c["compile.sql_chars"],
            "compile.preprojections": c["compile.preprojections"],
            "engine.cache_hits": c["engine.cache_hits"],
            "engine.cache_misses": c["engine.cache_misses"],
            "io_tables.write_ms": ms("io_tables.write"),
            "manifest.stage_ms": ms("manifest.stage"),
            "manifest.commits": c["manifest.commits"],
            "manifest.commit_ms": ms("manifest.commit"),
        }
        for i, key in enumerate(("classes", "compile_ms", "source_bytes")):
            out[f"codegen.{key}"] = sum(op["codegen"][i] for op in self.ops)
        for p in SparkLayers.PHASES:
            out[f"catalyst.{p}_ms"] = sum(op["catalyst"].get(p, 0) for op in self.ops)
        per_op = [self.layers.exec_metrics(op["groups"]) for op in self.ops]
        for key in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                    "input_bytes", "shuffle_write_bytes"):
            out[f"exec.{key}"] = median_or_zero([m.get(key, 0) for m in per_op])
        out["exec.core_util"] = median_or_zero(
            [m.get("cpu_ms", 0) / (1000 * op["s"] * CORES)
             for m, op in zip(per_op, self.ops)])
        selfs = t.self_times("run.op")
        wall = sum(op["s"] for op in self.ops)
        for layer in SELF_TIMED:
            out[f"{layer}.self_ms"] = 1000.0 * selfs.get(layer, 0.0)
        out["engine.build_ms"] = 1000.0 * selfs.get("engine", 0.0)
        out["trace.ops"] = len(self.ops)
        out["trace.wall_ms"] = 1000.0 * wall
        out["trace.coverage"] = 1.0 - selfs.get("run", 0.0) / wall
        for q in MIX_QUERIES:
            for key in ("builder_ms", "builder_jobs", "action_ms", "action_jobs"):
                out[f"pipeline.{q}.{key}"] = 0.0
        for key in ("manifest.stage_bytes_per_input_byte",
                    "io_tables.output_bytes", "io_tables.files"):
            out[key] = 0.0
        out.update(self.metrics)
        return {k: float(v) for k, v in out.items()}

    def check(self, ok: bool, what: str, ops=None) -> None:
        """Record an output check; a failure fails the ops it covers."""
        if not ok:
            self.failed_checks.append(what)
            print(f"check failed: {what}", file=sys.stderr)
            for rec in (self.ops if ops is None else ops):
                rec["ok"] = False


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def du(path: str) -> tuple:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


# --- typed_corpus --------------------------------------------------------


def typed_corpus(run: Run) -> None:
    from json_schema_spark.datagen import documents_json_schema
    from json_schema_spark.engine import ValidationEngine

    cfg = inputs.doc_config(run.seed, inputs.TYPED_DOCS, 0.001)
    corpus = run.path("typed_corpus")
    with run.tracer.span("run.inputs"):
        inputs.write_corpus(run.spark, cfg, corpus)
    docs = run.spark.read.parquet(corpus)
    schema = documents_json_schema(cfg)
    engine = ValidationEngine(run.spark)
    state = {}

    def first():
        state["res"] = engine.validate_typed(docs, schema, id_cols=["doc_id"])
        noop(state["res"].annotated)

    # passes take about a second and the JIT still speeds them up over the
    # first few, so the median needs more of them than other workloads
    run.loop(lambda i: run.op(f"op{i}", first if i == 0 else
                              lambda: noop(state["res"].annotated)), 6)
    if "res" not in state:
        return

    # seeded sample plus the lowest flagged docs, against the oracle
    from pyspark.sql import functions as F

    annotated = state["res"].annotated
    ids = checks.sample_ids(run.seed, inputs.TYPED_DOCS)
    flagged = [r["doc_id"] for r in annotated.where(~F.col("is_valid"))
               .select("doc_id").orderBy("doc_id").limit(50).collect()]
    found = {r["doc_id"]: [(e["error_type"], e["path"]) for e in r["violations"]]
             for r in annotated.where(F.col("doc_id").isin(ids + flagged))
             .select("doc_id", "violations").collect()}
    bad = checks.oracle_mismatches(run.root, schema,
                                   checks.read_docs(corpus, ids + flagged), found)
    run.check(not bad and len(flagged) > 0,
              f"typed_corpus: oracle disagrees on {bad[:5]} "
              f"({len(flagged)} flagged docs sampled)")


# --- scaffold_compile ----------------------------------------------------


def scaffold_compile(run: Run) -> None:
    import __spark_entry__ as entry_mod
    from json_schema_spark.engine import ValidationEngine

    frame = inputs.scaffold_frame(run.spark, run.seed)
    expected = checks.scaffold_expected(run.seed, inputs.SCAFFOLD_ROWS)

    def call(i):
        out = run.path(f"scaffold_{i}")

        def submit():
            res = ValidationEngine(run.spark).validate_json(
                frame, "doc", entry_mod.SCAFFOLD_SCHEMA, id_cols=["doc_id"])
            (res.violations.select("doc_id", "path", "error_type")
             .write.mode("overwrite").parquet(out))

        rec = run.op(f"op{i}", submit)
        if rec["ok"]:
            got = checks.parquet_rows(out, "doc_id, path, error_type")
            run.check(got == expected,
                      f"scaffold_compile op {i}: {sum(got.values())} violations, "
                      f"{sum(expected.values())} expected", [rec])
        shutil.rmtree(out, ignore_errors=True)
        return rec

    run.loop(call, 3)


# --- resumable_sink ------------------------------------------------------

SINK_BUCKETS = 8


def resumable_sink(run: Run) -> None:
    from json_schema_spark import cli
    from json_schema_spark.datagen import documents_json_schema

    cfg = inputs.doc_config(run.seed, inputs.SINK_DOCS, 0.034)
    corpus = run.path("sink_input")
    schema = documents_json_schema(cfg)
    schema_path = run.path("schema.json")
    with run.tracer.span("run.inputs"):
        inputs.write_corpus(run.spark, cfg, corpus)
        with open(schema_path, "w") as fh:
            json.dump(schema, fh)
    input_bytes = du(corpus)[0]
    sizes = {"stage": [], "out_bytes": [], "out_files": []}

    def cli_call(manifest, violations):
        argv = ["--schema", schema_path, "--data", corpus, "--manifest", manifest,
                "--violations", violations, "--n-buckets", str(SINK_BUCKETS)]
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def call(i):
        manifest, violations = run.path(f"manifest_{i}"), run.path(f"violations_{i}")
        rec = run.op(f"op{i}", lambda: cli_call(manifest, violations))
        if rec["ok"]:
            rec["totals"] = tot = checks.sink_totals(manifest, violations)
            run.check(rec["value"]["processed_buckets"] == SINK_BUCKETS
                      and tot["buckets"] == SINK_BUCKETS
                      and tot["rows"] == inputs.SINK_DOCS
                      and tot["violations"] == tot["sink_rows"] > 0,
                      f"resumable_sink op {i}: manifest {tot} "
                      f"for {inputs.SINK_DOCS} docs", [rec])
            sizes["stage"].append(du(manifest + "_staging")[0] / input_bytes)
            out_bytes, out_files = du(violations)
            sizes["out_bytes"].append(out_bytes)
            sizes["out_files"].append(out_files)
        if i > 0:  # the first call's output is checked once the loop ends
            remove_sink(manifest, violations)
        return rec

    # per-call CPU time falls by half over the first three warm calls, as
    # the JIT compiles the hot paths; two of them are warm-up
    run.loop(call, 6, warmup=2)
    run.metrics.update({
        "manifest.stage_bytes_per_input_byte": median_or_zero(sizes["stage"]),
        "io_tables.output_bytes": median_or_zero(sizes["out_bytes"]),
        "io_tables.files": median_or_zero(sizes["out_files"]),
    })
    first = run.ops[0]
    manifest, violations = run.path("manifest_0"), run.path("violations_0")
    if first["ok"]:
        check_resume(run, first, manifest, violations,
                     lambda: cli_call(manifest, violations))
        ids = checks.sample_ids(run.seed, inputs.SINK_DOCS)
        ids += checks.flagged_ids(violations)
        bad = checks.oracle_mismatches(run.root, schema,
                                       checks.read_docs(corpus, ids),
                                       checks.sink_violations(violations, ids))
        run.check(not bad, f"resumable_sink: oracle disagrees on {bad[:5]}",
                  [first])
    remove_sink(manifest, violations)


def remove_sink(manifest: str, violations: str) -> None:
    for p in (manifest, manifest + "_staging", violations):
        shutil.rmtree(p, ignore_errors=True)


def check_resume(run, first, manifest, violations, cli_call) -> None:
    """A second call on a finished manifest processes no bucket and leaves
    the violation rows as they were."""
    again = cli_call()
    before, after = first["totals"], checks.sink_totals(manifest, violations)
    run.check(again["processed_buckets"] == 0
              and again["skipped_buckets"] == SINK_BUCKETS
              and (after["sink_rows"], after["sink_hash"])
              == (before["sink_rows"], before["sink_hash"]),
              f"resumable_sink: resume processed {again} and left the sink "
              f"{after['sink_rows']} rows (was {before['sink_rows']})", [first])


# --- operator_mix --------------------------------------------------------


def operator_mix(run: Run) -> None:
    import __spark_entry__ as entry_mod

    tables = run.path("mix_tables")
    with run.tracer.span("run.inputs"):
        inputs.write_mix_tables(run.seed, tables)
    builders = entry_mod.queries()
    sc = run.spark.sparkContext
    last = {}
    per_query = {q: {"builder_s": [], "action_s": [], "builder_jobs": [],
                     "action_jobs": []} for q in MIX_QUERIES}

    def cycle(i):
        groups = []

        def run_all():
            for q in MIX_QUERIES:
                for phase in ("builder", "action"):
                    group = f"{q}.{phase}.{i}"
                    groups.append(group)
                    sc.setJobGroup(group, group)
                    t0 = time.perf_counter()
                    with run.tracer.span(f"pipeline.{q}.{phase}"):
                        if phase == "builder":
                            last[q] = builders[q](run.spark, tables)
                        else:
                            noop(last[q])
                    per_query[q][f"{phase}_s"].append(time.perf_counter() - t0)
                run.spark.catalog.clearCache()

        return run.op(f"cycle{i}", run_all, groups)

    run.loop(cycle, 2)
    if run.layers is not None:
        run.layers.drain()
        for q in MIX_QUERIES:
            for phase in ("builder", "action"):
                per_query[q][f"{phase}_jobs"] = [
                    len(run.layers.jobs(f"{q}.{phase}.{i}"))
                    for i in range(len(run.ops))]
    for q, vals in per_query.items():
        for key, values in vals.items():
            name = key[:-2] + "_ms" if key.endswith("_s") else key
            scale = 1000.0 if key.endswith("_s") else 1.0
            run.metrics[f"pipeline.{q}.{name}"] = scale * median_or_zero(values)

    oracle = checks.MixOracle(run.root, tables)
    for q in MIX_QUERIES:
        if q not in last:
            continue
        why = oracle.mismatch(q, last[q])
        run.check(not why, f"operator_mix {q}: {why}")


WORKLOADS = {
    "typed_corpus": typed_corpus,
    "scaffold_compile": scaffold_compile,
    "resumable_sink": resumable_sink,
    "operator_mix": operator_mix,
}
