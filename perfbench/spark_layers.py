"""The Spark session, sized to the host, and the counters the benchmark reads
from Spark itself: job-group job/task/shuffle totals, whole-stage codegen
compilations, cached storage, and the SQL metrics of executed plans (the
``ArrowEvalPython`` node is the Python-UDF boundary). Each op starts from an
empty cache (``release_cache``)."""

from __future__ import annotations

import os
import subprocess


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(mem_total_mb: int) -> int:
    """A quarter of RAM: in local mode the driver JVM is also the executor,
    and the Python workers and the OS page cache need the rest."""
    return max(1024, mem_total_mb // 4)


def build_session(tmp_dir: str, cores: int, mem_mb: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp_dir)
        .config("spark.sql.warehouse.dir", os.path.join(tmp_dir, "warehouse"))
        # -UsePerfData: no hsperfdata files under the system temp dir
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def release_cache(spark) -> None:
    """Drop every persisted RDD, waiting until its blocks are gone, and every
    cached relation. ``run_suite`` persists the verdicts of referenced shapes
    and never releases them; left in place, Spark's cache manager would
    answer the next op's identical plan from memory instead of computing it."""
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()


class SparkCounters:
    """Deltas of Spark's own counters around one op."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._codegen_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._store = self.sc._jsc.sc().statusStore()
        self._identity = jvm.java.lang.System.identityHashCode

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile ms) since the JVM started."""
        return int(self._codegen_hist.getCount()), self._codegen.compileTime() / 1e6

    def begin_op(self, op_id: str, desc: str) -> None:
        self.sc.setJobGroup(op_id, desc, False)

    def jobs_of(self, op_id: str) -> dict[str, float]:
        """Jobs, tasks and shuffle bytes written by every job of the group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        tasks = 0
        shuffle = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sd = self._store.lastStageAttempt(sid)
                tasks += sd.numTasks()
                shuffle += sd.shuffleWriteBytes()
        return {"jobs": len(jobs), "tasks": tasks, "shuffle_write_mb": shuffle / 2**20}

    def storage(self) -> tuple[int, float]:
        """(persistent RDDs, MB they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return int(self.sc._jsc.getPersistentRDDs().size()), mb

    def python_udf(self, dataframes) -> dict[str, float]:
        """Summed ``ArrowEvalPython`` SQL metrics of the executed plans of
        ``dataframes`` (after their actions ran), looking through adaptive
        query stages and cached relations."""
        seen: set[int] = set()
        out = {"python_ms": 0.0, "python_sent_mb": 0.0}

        def metric(node, name: str) -> float:
            opt = node.metrics().get(name)
            return float(opt.get().value()) if opt.isDefined() else 0.0

        def walk(node) -> None:
            key = self._identity(node)
            if key in seen:
                return
            seen.add(key)
            if node.nodeName().startswith("ArrowEvalPython"):
                # pythonTotalTime is a timing metric, recorded in ms
                out["python_ms"] += metric(node, "pythonTotalTime")
                out["python_sent_mb"] += metric(node, "pythonDataSent") / 2**20
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                walk(node.plan())
            elif cls == "InMemoryTableScanExec":
                walk(node.relation().cachedPlan())
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

        for df in dataframes:
            walk(df._jdf.queryExecution().executedPlan())
        return out
