"""Fresh-JVM Spark sessions sized to the host, and host-state readings.

Every workload run owns its JVM: ``start`` launches a new py4j gateway
(and so a new JVM), ``stop`` shuts it down and waits for the process to
exit. Nothing is shared with an earlier run; the session conf below is the
benchmark's own, so library defaults cannot leak in from another harness.
"""

from __future__ import annotations

import os

CORES = len(os.sched_getaffinity(0))
# The driver JVM is the whole cluster in local mode. Its heap is fixed and
# touched at start, so the peak resident set does not depend on when the
# collector happened to grow the heap; it moves with the JVM's non-heap
# memory (metaspace, generated code, buffers) and the Python driver.
DRIVER_MEMORY = "2g"


def spark_conf(scratch: str) -> dict:
    """Session conf for one run; every file Spark writes lands in ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start(conf: dict):
    """Launch a JVM, build the session and warm it up; returns the session."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: one small codegen'd job, so the first timed call does not
    # pay for the scheduler's and the JIT's first use
    spark.range(0, 200_000, 1, CORES).selectExpr("sum(id)").collect()
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its reaped
    children and every live descendant: the Python driver, the JVM and its
    Python workers. The kernel leaves time stolen by the hypervisor out of
    these counters, so they follow the work done far more than the host."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process exited meanwhile
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, pp in parent.items() if pp == pid and c not in tree)
    return sum(ticks.get(pid, 0) for pid in tree) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


class HostState:
    """Load average and CPU steal over one run, reported next to its numbers."""

    def __init__(self):
        self.load_before = os.getloadavg()[0]
        self._ticks = cpu_ticks()

    def report(self) -> dict:
        total, steal = cpu_ticks()
        d_total = max(1, total - self._ticks[0])
        d_steal = steal - self._ticks[1]
        return {
            "loadavg_1m_before": round(self.load_before, 2),
            "loadavg_1m_after": round(os.getloadavg()[0], 2),
            "steal_s": round(d_steal / os.sysconf("SC_CLK_TCK"), 2),
            "steal_share": round(d_steal / d_total, 4),
        }
