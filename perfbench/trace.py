"""Spans and Spark layer counters for the traced run.

Spans are recorded from outside the program: ``install_shims`` wraps the
public entry points of each module (and the pyspark actions the modules
call) at run time. No library file is edited. Each span records its name,
start, end, parent and the run id; spans stay in memory and are written
out once, when the run ends. A span's name is ``<layer>.<what>``; a
layer's self time is its spans' durations minus the time their child spans
cover. Spans of the ``run`` layer are the benchmark's own glue, so their
self time is the part of the run no layer accounts for.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []  # [name, start, end, parent index, run id]
        self._stack: list = []
        self.counts: Counter = Counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.run_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` by a spanned version; ``after(result,
        args)`` may record counts once the call returns."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args)
            return out

        setattr(owner, attr, spanned)

    def _top(self, i: int) -> int:
        while self.spans[i][3] is not None:
            i = self.spans[i][3]
        return i

    def _in(self, root_name: str) -> list:
        """Indices of the spans nested in a top-level span ``root_name``."""
        return [i for i in range(len(self.spans))
                if self.spans[self._top(i)][0] == root_name]

    def durations(self, name: str, root_name: str) -> list:
        """Durations (s) of the spans ``name`` inside top-level ``root_name`` spans."""
        return [self.spans[i][2] - self.spans[i][1] for i in self._in(root_name)
                if self.spans[i][0] == name]

    def self_times(self, root_name: str) -> dict:
        """Self time (s) per layer inside top-level ``root_name`` spans.
        Calls are synchronous, so children never overlap each other."""
        child = defaultdict(float)
        for n, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out = defaultdict(float)
        for i in self._in(root_name):
            n, t0, t1 = self.spans[i][:3]
            out[n.split(".", 1)[0]] += (t1 - t0) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for n, t0, t1, parent, run_id in self.spans:
                fh.write(json.dumps({"name": n, "start": t0, "end": t1,
                                     "parent": parent, "run_id": run_id}) + "\n")


def _walk(node):
    """Every SchemaNode reachable from ``node`` (each object once)."""
    from json_schema_spark.expander import schema_children

    seen = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if n is None or id(n) in seen:
            continue
        seen.add(id(n))
        yield n
        stack.extend(schema_children(n))


def install_shims(tracer: Tracer) -> None:
    """Wrap each layer's public entry points in spans."""
    from pyspark.sql import DataFrame, DataFrameWriter

    from json_schema_spark import cli, io_tables, manifest
    from json_schema_spark.compile.columnar import ColumnarCompiler
    from json_schema_spark.engine import ValidationEngine
    from json_schema_spark.expander import ReferenceExpander
    from json_schema_spark.parser import Parser

    c = tracer.counts

    def parsed(node, _args):
        nodes = list(_walk(node))
        c["parser.nodes"] += len(nodes)
        c["expander.refs"] += sum(1 for n in nodes if n.reference)

    def emitted(parts, args):
        c["compile.parts"] += len(parts)
        c["compile.sql_chars"] += sum(len(p.valid) + len(p.errors) for p in parts)
        c["compile.preprojections"] += len(args[0].preprojections)

    tracer.wrap(Parser, "parse_bang", "parser.parse", parsed)
    tracer.wrap(ReferenceExpander, "expand", "expander.expand")
    tracer.wrap(ColumnarCompiler, "compile_parts", "compile.emit", emitted)
    for attr in ("__init__", "validate_typed", "validate_json", "validate_variant"):
        tracer.wrap(ValidationEngine, attr, f"engine.{attr.strip('_')}")

    cached = ValidationEngine._cached_compile

    @functools.wraps(cached)
    def counted(self, mode_key, schema, store, build):
        built = []

        def build_and_flag():
            built.append(True)
            return build()

        out = cached(self, mode_key, schema, store, build_and_flag)
        c["engine.cache_misses" if built else "engine.cache_hits"] += 1
        return out

    ValidationEngine._cached_compile = counted

    def committed(_out, _args):
        c["manifest.commits"] += 1

    tracer.wrap(cli, "main", "cli.main")
    tracer.wrap(io_tables, "write_table", "io_tables.write")
    tracer.wrap(manifest, "ensure_bucketed_staging", "manifest.stage")
    tracer.wrap(manifest.RunManifest, "append", "manifest.commit", committed)
    for attr in ("save", "parquet"):
        tracer.wrap(DataFrameWriter, attr, "exec.write")
    for attr in ("collect", "count", "toPandas"):
        tracer.wrap(DataFrame, attr, "exec.collect")


class CatalystListener:
    """A QueryExecutionListener (implemented through the py4j callback
    server) that adds up the Catalyst phases of every query Spark executes
    while ``active``: the plans of the program's own actions, not copies."""

    def __init__(self):
        self.active = False
        self.ms = Counter()

    def onSuccess(self, func_name, qe, duration_ns):
        if not self.active:
            return
        phases = qe.tracker().phases()
        for p in SparkLayers.PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.ms[p] += opt.get().durationMs()

    def onFailure(self, func_name, qe, exception):
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkLayers:
    """Catalyst phases, codegen and executor counters read through py4j."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compile_hist = cm.METRIC_COMPILATION_TIME()
        self._source_hist = cm.METRIC_SOURCE_CODE_SIZE()
        ensure_callback_server_started(self.sc._gateway)
        self.catalyst = CatalystListener()
        spark._jsparkSession.listenerManager().register(self.catalyst)

    def codegen(self) -> tuple:
        """(classes compiled, compile ms, source bytes) so far in this JVM.
        The histograms keep every sample until 1028 updates, far above a
        run's count, so the sums are exact."""
        return (int(self._compile_hist.getCount()),
                float(sum(self._compile_hist.getSnapshot().getValues())),
                float(sum(self._source_hist.getSnapshot().getValues())))

    def drain(self) -> None:
        """Wait until every listener has seen every finished query and task."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def exec_metrics(self, groups) -> dict:
        """Executor counters summed over every job of ``groups``."""
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = Counter()
        for group in groups:
            for job in tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in (info.stageIds if info else []):
                    sd = store.lastStageAttempt(stage)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped (reused shuffle) or empty
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["run_ms"] += sd.executorRunTime()
                    out["cpu_ms"] += sd.executorCpuTime() / 1e6
                    out["gc_ms"] += sd.jvmGcTime()
                    out["input_bytes"] += sd.inputBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return dict(out)


def median_or_zero(values) -> float:
    return float(statistics.median(values)) if values else 0.0
