"""Reads Spark's own bookkeeping from outside the engine.

Everything here goes through public or bytecode-public JVM handles of the
running ``SparkContext``: the status store (jobs, stages, task metrics by job
group), the listener bus (drained so the store is current), Catalyst's
planning tracker (via a query-execution listener), the codegen metrics and
the JVM's own management beans. Nothing in the engine is changed.
"""

from __future__ import annotations

import os
import threading

# Stage-level task metrics summed per call (status-store field -> metric).
STAGE_FIELDS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "task_run_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "outputRecords": "output_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
}
PHASES = ("analysis", "optimization", "planning")


class PhaseListener:
    """A ``QueryExecutionListener`` implemented in Python over the py4j
    callback server. It sums Catalyst's per-phase durations of every query
    execution that finishes, until ``take`` hands the sums over."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._sums = dict.fromkeys(PHASES, 0.0)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        got = {}
        for p in PHASES:
            opt = phases.get(p)
            got[p] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        with self._lock:
            for p, v in got.items():
                self._sums[p] += v

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM interface)
        self._record(qe)

    def take(self) -> dict[str, float]:
        with self._lock:
            out, self._sums = self._sums, dict.fromkeys(PHASES, 0.0)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Per-call attribution of Spark work, keyed by job group."""

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self.listener: PhaseListener | None = None
        if trace:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            self.listener = PhaseListener()
            # py4j makes a new JVM proxy each time a Python object is passed,
            # so unregister(listener) would never match the registered one.
            # The proxy is made once, kept in a JVM-side array, and both
            # calls go through reflection with that array as arguments.
            held = self._jvm.java.util.ArrayList()
            held.add(self.listener)
            self._listener_args = held.toArray()
            types = self.sc._gateway.new_array(self._jvm.java.lang.Class, 1)
            types[0] = self._jvm.java.lang.Class.forName(
                "org.apache.spark.sql.util.QueryExecutionListener"
            )
            self._manager = spark._jsparkSession.listenerManager()
            cls = self._manager.getClass()
            self._register = cls.getMethod("register", types)
            self._unregister = cls.getMethod("unregister", types)

    def listen(self, on: bool) -> None:
        """Register the phase listener (for a traced pass) or remove it, so
        untraced passes run without it. Sums left from before are dropped."""
        self.drain()
        (self._register if on else self._unregister).invoke(self._manager, self._listener_args)
        self.listener.take()

    # --- job groups -----------------------------------------------------
    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until every posted listener event has been handled, so the
        status store and the phase listener describe the calls so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, group: str) -> dict[str, float]:
        """Jobs, stages and summed task metrics of one job group, read from
        the status store right after the group's work ended."""
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = {"jobs": 0, "stages": 0, **dict.fromkeys(STAGE_FIELDS.values(), 0)}
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage skipped, never attempted
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                for field, key in STAGE_FIELDS.items():
                    out[key] += getattr(st, field)()
        return out

    # --- JVM-wide counters --------------------------------------------------
    def codegen_compiles(self) -> int:
        return int(
            self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        )

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def jit_seconds(self) -> float:
        return jit_seconds(self._jvm)

    def heap_peak_mb(self) -> float:
        pools = self._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        return sum(p.getPeakUsage().getUsed() for p in pools if p.getType().equals(heap)) / 2**20

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())

    def effective_conf(self) -> dict[str, str]:
        conf = self.spark.conf
        keys = (
            "spark.master",
            "spark.driver.memory",
            "spark.sql.shuffle.partitions",
            "spark.sql.codegen.cache.maxEntries",
            "spark.sql.adaptive.enabled",
        )
        out = {k: conf.get(k, None) for k in keys}
        out["defaultParallelism"] = str(self.sc.defaultParallelism)
        return out


def jit_seconds(jvm) -> float:
    """Time the JVM's just-in-time compiler threads have spent compiling
    since the JVM started (the JVM's own, approximate, total)."""
    bean = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000.0


def rss_peak_mb(pid: int | None = None) -> float:
    """Peak resident set (VmHWM) of a process, this one by default."""
    path = f"/proc/{pid or os.getpid()}/status"
    with open(path) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in {path}")
