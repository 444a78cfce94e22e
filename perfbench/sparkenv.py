"""Spark session, package shipping and the JVM-side probes.

- ``start_session``: one ``local[4]`` session whose scratch space (Spark
  local dirs, JVM and Python temp files, the shipped package zip) lives
  under the benchmark's work directory inside the checkout.
- ``plan_metrics``: walks a DataFrame's executed plan through py4j —
  ``AdaptiveSparkPlanExec.finalPhysicalPlan()``, descending into each
  ``*QueryStageExec.plan()`` — and sums the SQLMetrics by layer.
- ``JobCounter``: Spark jobs per operation, via job group + statusTracker.
- ``RssSampler``: VmHWM summed over the driver's process tree (driver
  Python, the JVM and its Python workers); ``cpu_s``: the tree's CPU
  time.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
import zipfile

CORES = 4

# SQLMetric name -> layer metric. Times are converted to seconds by type.
_LAYER_OF = {
    "scanTime": "scan.s",
    "filesSize": "scan.bytes",
    "pythonTotalTime": "arrow.python_s",
    "pythonBootTime": "arrow.boot_s",
    "pythonDataSent": "arrow.sent_bytes",
    "pythonDataReceived": "arrow.recv_bytes",
    "shuffleBytesWritten": "shuffle.bytes",
    "aggTime": "agg.s",
}
PLAN_LAYERS = tuple(_LAYER_OF.values())


def ship_package(spark, repo_root: str, work: str) -> None:
    """Ship ``geomesa_spark`` to the Python workers before the first UDF
    runs (input synthesis included). The zip is written into the work
    directory, and the package's own idempotence flag is set so its
    ``contract.ensure_py_files`` does not ship a second copy."""
    src = os.path.join(repo_root, "geomesa_spark")
    out = os.path.join(work, "geomesa_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for dp, _, fs in os.walk(src):
            for f in sorted(fs):
                if f.endswith(".py"):
                    p = os.path.join(dp, f)
                    z.write(p, os.path.relpath(p, repo_root))
    sc = spark.sparkContext
    sc.addPyFile(out)
    sc._geomesa_spark_pyfiles = True


def start_session(work: str):
    """Start the benchmark's single ``local[4]`` session."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseG1GC"
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("geomesa-spark-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks its Python
    daemon from a worker thread, not its main thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: the process's CPU time plus that
    of its exited children it reaped (Python workers the daemon reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def cpu_s() -> float:
    """CPU seconds used so far by this process's tree. Time the host
    steals from the virtual CPUs and time spent waiting for a CPU are not
    in it, so it moves less than wall time on a shared machine."""
    return sum(_cpu_ticks(p) for p in process_tree()) / _CLK_TCK


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Largest sum of per-process VmHWM seen over the driver's tree;
    sample after each operation so short-lived workers are counted."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.by_process: dict[str, int] = {}  # at the peak: process name -> kB

    def sample(self) -> None:
        hwm = {f"{_comm(p)}:{p}": _vm_hwm_kb(p) for p in process_tree()}
        total = sum(hwm.values())
        if total > self.peak_kb:
            self.peak_kb, self.by_process = total, hwm

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and every process under this one,
    waiting until each has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=20)
    deadline = time.monotonic() + 20
    while True:
        rest = [p for p in process_tree() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 20
        time.sleep(0.05)


class JobCounter:
    """Spark jobs started by one operation: each operation runs under its
    own job group, and statusTracker lists the group's job ids."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, label)
        return group

    def count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _plan_nodes(plan) -> list:
    """Every physical node under ``plan``, looking through adaptive
    wrappers and query stages to the plan that actually ran."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue  # its metrics belong to the node it reuses
        out.append(node)
        todo.extend(_scala_seq(node.children()))
        try:
            todo.extend(_scala_seq(node.subqueries()))
        except Exception:
            pass
    return out


def plan_metrics(df) -> dict[str, float]:
    """Sum the SQLMetrics of ``df``'s last execution by layer. Call it
    after an action on ``df`` itself (collect/count on the same object)."""
    totals = {k: 0.0 for k in PLAN_LAYERS}
    plan = df._jdf.queryExecution().executedPlan()
    for node in _plan_nodes(plan):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            layer = _LAYER_OF.get(kv._1())
            if layer is None:
                continue
            m = kv._2()
            v = float(m.value())
            kind = m.metricType()
            if kind == "timing":
                v /= 1e3
            elif kind == "nsTiming":
                v /= 1e9
            totals[layer] += v
    return totals
