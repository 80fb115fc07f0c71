"""The pinned Spark environment of the benchmark, and what it reads back
from a running job: process-tree RSS, executed-plan SQL metrics and
job/task counts."""

from __future__ import annotations

import collections
import functools
import os
import platform
import sys
import threading

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def refuse_foreign_env() -> str | None:
    """Why the environment would change the measured program, or None:
    only the surrogate engine with zero simulated latency is measured."""
    engine = os.environ.get("SPARK_GRAFT_ENGINE", "surrogate")
    if engine != "surrogate":
        return f"SPARK_GRAFT_ENGINE={engine!r} selects another engine; unset it"
    page_ms = os.environ.get("SPARK_GRAFT_SURROGATE_PAGE_MS", "0")
    try:
        zero = float(page_ms) == 0.0
    except ValueError:
        zero = False
    if not zero:
        return f"SPARK_GRAFT_SURROGATE_PAGE_MS={page_ms!r} adds simulated latency; unset it"
    return None


def pin_env(work_dir: str) -> None:
    """Private local dirs and temp dir; workers run this interpreter."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(work_dir: str, cores: int):
    """``build_session`` on local[cores], with the pyfiles zip kept in
    ``work_dir`` so the run writes nothing outside its checkout."""
    import extractor.session as session

    session.package_pyfiles = functools.partial(session.package_pyfiles, out_dir=work_dir)
    tmp = os.path.join(work_dir, "tmp")
    spark = session.build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        proc.wait(timeout=60)


def environment(spark) -> dict:
    import pyspark

    conf = {
        k: v
        for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith(("spark.sql.", "spark.python.", "spark.master", "spark.driver.memory"))
    }
    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark_confs": dict(sorted(conf.items())),
    }


# ---------------------------------------------------------------------------
# Peak RSS of the process tree (this driver, its JVM, the Python workers)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from the ppid field of /proc/*/stat."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process tree every ``interval`` s between
    ``start()`` and ``stop()``; each ``stop()`` records that window's peak
    in ``peaks``.  The tree itself is re-listed every ``relist`` samples."""

    def __init__(self, interval: float = 0.1, relist: int = 10):
        self.interval = interval
        self.relist = relist
        self.peaks: list[int] = []
        self._peak = None
        self._lock = threading.Lock()
        self._quit = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._quit.set()
        self._thread.join(timeout=5)

    def start(self) -> None:
        with self._lock:
            self._peak = 0

    def stop(self) -> None:
        with self._lock:
            self.peaks.append(self._peak)
            self._peak = None

    def _run(self):
        me, pids, n = os.getpid(), [], 0
        while not self._quit.wait(self.interval):
            if self._peak is None:
                continue
            if n % self.relist == 0:
                pids = tree_pids(me)
            n += 1
            rss = rss_bytes(pids)
            with self._lock:
                if self._peak is not None:
                    self._peak = max(self._peak, rss)


# ---------------------------------------------------------------------------
# Executed-plan SQL metrics, read through a py4j QueryExecutionListener
# ---------------------------------------------------------------------------


def flatten_plan(plan, depth: int = 0, out=None) -> list:
    """[(node_name, depth, {metric: value})] over an executed plan,
    descending into the AQE final plan and its query stages."""
    out = [] if out is None else out
    name = plan.nodeName()
    if name.startswith("Reused"):
        return out  # counted where the reused stage first ran
    metrics = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    out.append((name, depth, metrics))
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        kids, it = [], plan.children().iterator()
        while it.hasNext():
            kids.append(it.next())
    for kid in kids:
        flatten_plan(kid, depth + 1, out)
    return out


def plan_counters(nodes) -> dict:
    """Sum the counters the per-layer table names over flattened nodes."""
    c = collections.Counter()
    for _name, _depth, m in nodes:
        if "pythonTotalTime" in m:
            c["py_total_ms"] += m["pythonTotalTime"]
            c["py_init_ms"] += m.get("pythonInitTime", 0)
            c["py_bytes_sent"] += m.get("pythonDataSent", 0)
            c["py_bytes_recv"] += m.get("pythonDataReceived", 0)
        c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        c["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        c["spill_bytes"] += m.get("spillSize", 0)
        c["agg_ms"] += m.get("aggTime", 0)
        c["fallback_tasks"] += m.get("numTasksFallBacked", 0)
        c["scan_bytes"] += m.get("filesSize", 0)
    return dict(c)


class PlanCapture:
    """Records the flattened executed plan of every query that finishes."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._lock = threading.Lock()
        self._plans: list = []
        # Registered once for the session (py4j hands Java a new proxy on
        # every call, so unregister would not find this one); while off,
        # a finished query costs one callback and no plan walk.
        self.enabled = True
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, _func, qe, _duration_ns):
        if not self.enabled:
            return
        nodes = flatten_plan(qe.executedPlan())
        with self._lock:
            self._plans.append(nodes)

    def onFailure(self, _func, _qe, _exc):
        pass

    def drain(self) -> list:
        """Plans finished since the last drain (waits for pending events)."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        with self._lock:
            plans, self._plans = self._plans, []
        return plans


class JobCounter:
    """Jobs and completed tasks since the last call."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self._seen = set(self._tracker.getJobIdsForGroup())

    def take(self) -> tuple[int, int]:
        new = set(self._tracker.getJobIdsForGroup()) - self._seen
        self._seen |= new
        stages = set()
        for jid in new:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = self._tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(new), tasks
