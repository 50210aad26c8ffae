"""Session lifecycle, memory high-water marks and Spark-side counters.

All tracing here happens from the benchmark's side of each call: job
groups and the status tracker for job/stage/task counts, the
application status store for shuffle bytes, and the SQL status store
for the per-operator metrics Spark already keeps.  The program itself
is not instrumented.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import subprocess
from contextlib import contextmanager

SHUFFLE_PARTITIONS = 8
HEAP = "1g"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _descendants(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def peak_rss_mb(root: int) -> float:
    """Sum of the kernel's resident-memory high-water marks (VmHWM) of
    ``root`` and its live descendants: the driver JVM and the Python
    workers it forked."""
    total_kb = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def start_session(work: str, cores: int):
    """A local[cores] session whose scratch, warehouse and temp files
    all live under ``work``, and whose Python workers import the
    package from the checkout root."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: the JVM's resident size then follows the
    # program's allocation, not the collector's heap-resizing choices
    java_opts = f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class SparkCounters:
    """Job/stage/task counts and shuffle bytes per job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Tag every job started inside the block; yields a dict that
        is filled with the group's counts when the block exits."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        out: dict = {}
        self.sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            out.update(self.counts(gid))

    def counts(self, gid: str) -> dict:
        from py4j.protocol import Py4JJavaError

        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = shuffle = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(s)
                except Py4JJavaError:
                    continue  # skipped stage: never ran, nothing recorded
                stages += 1
                tasks += int(sd.numTasks())
                shuffle += int(sd.shuffleWriteBytes())
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "shuffle_bytes": shuffle}


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?"


def _value(tok: tuple[str, str | None]) -> float:
    num, unit = tok
    return float(num.replace(",", "")) * _UNITS.get(unit or "", 1.0)


def parse_metric(text: str) -> dict:
    """A formatted SQL metric value -> {total, min, med, max} in base
    units (bytes, seconds, or a plain count).  Spark prints either a
    single value or ``total (min, med, max (stageId: taskId))``."""
    body = text.split("\n", 1)[-1]
    toks = re.findall(_NUM, body.split("(stage")[0])
    vals = [_value(t) for t in toks]
    if len(vals) >= 4:
        return dict(zip(("total", "min", "med", "max"), vals[:4]))
    v = vals[0] if vals else 0.0
    return {"total": v, "min": v, "med": v, "max": v}


def sql_executions(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsList().size())


def node_metrics(spark, since: int, node: str) -> dict[str, dict]:
    """Metrics of the plan nodes named ``node`` in SQL executions
    numbered ``since`` and later, summed by metric name."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict[str, dict] = {}
    for i in range(since, execs.size()):
        eid = execs.apply(i).executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            n = nodes.apply(k)
            if n.name() != node:
                continue
            ms = n.metrics()
            for m in range(ms.size()):
                sm = ms.apply(m)
                v = values.get(sm.accumulatorId())
                if not v.isDefined():
                    continue
                parsed = parse_metric(v.get())
                prev = out.get(sm.name())
                if prev is None:
                    out[sm.name()] = parsed
                else:
                    prev["total"] += parsed["total"]
                    prev["max"] = max(prev["max"], parsed["max"])
    return out
