"""SparkSession factory.

One shared session per process: at bench scale (sf0.1) fixed overheads
dominate, so every query reuses a single JVM/session (BASELINE.md tuning
notes). The defaults here are chosen for local[N] testing but scale up
unchanged: AQE handles partition coalescing and skew at any size, and the
shuffle-partition count is a tunable, not a hardcode.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Shuffle partitions: at local sf<=0.1 a small count avoids scheduling
# overhead; on a real cluster this should be ~2-3x total cores or left to
# AQE's coalescing (initialPartitionNum high, coalesce down).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# Driver JIT profile: HotSpot's tier-4 (C2) thresholds, defaults
# 5000/600/15000/40000, raised 30x. A session compiles Catalyst, scheduler
# and launcher code that runs only a few thousand times per process; C2
# never paid that compile back. JIT was 64-88 of 99-118 CPU s of a
# perfbench `queries` cold pass and 12-25 of 23-35 CPU s of set-up (4 vCPU).
# At 30x set-up fell ~26 -> ~17 CPU s and that cold pass ~106 -> ~68.
# Per-row loops still reach C2, only later: warm passes take 10-16% more
# wall time. Java 17 floating point is strict in every tier, so results
# cannot change.
# Set as defaultJavaOptions, which the launcher prepends to a caller's
# spark.driver.extraJavaOptions instead of replacing it. Driver only:
# executors on a cluster keep HotSpot's defaults (in local[N] the driver
# JVM runs the tasks). Static conf: applies only when the builder launches
# the JVM.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=150000 -XX:Tier4MinInvocationThreshold=18000 "
    "-XX:Tier4CompileThreshold=450000 -XX:Tier4BackEdgeThreshold=1200000"
)

MAX_DRIVER_MEM_GB = 24


def default_driver_memory(meminfo: str | None = None) -> str:
    """The driver heap ``get_session`` uses unless SPARK_GRAFT_DRIVER_MEM is
    set: half the host's MemTotal in whole GB, at most 24g (at least 1g).

    ``meminfo`` is the text of /proc/meminfo, read when omitted; 24g when it
    cannot be read or has no MemTotal line.
    """
    if meminfo is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            meminfo = ""
    m = re.search(r"^MemTotal:\s+(\d+)\s+kB", meminfo, re.M)
    if not m:
        return f"{MAX_DRIVER_MEM_GB}g"
    half_gb = int(m.group(1)) // (2 * 1024 * 1024)
    return f"{max(1, min(MAX_DRIVER_MEM_GB, half_gb))}g"


def build_conf(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply engine defaults to a builder (also used by tests/bench)."""
    return (
        builder
        # Adaptive execution: runtime re-planning, partition coalescing,
        # skew-join splitting — required posture for the 100 TB design goal.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Arrow for every Python<->JVM crossing (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timezone so date/time functions match the DuckDB
        # oracle regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Permissive casts (bad values -> NULL), mirroring the reference's
        # tolerant mdb-export -> Postgres load path (SURVEY.md §2.2 #10).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )


def get_session(app_name: str = "mdb-to-postgres-spark") -> SparkSession:
    """Create (or reuse) the configured local session."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local[N] packs N executor threads into the driver JVM; the 1g
        # default heap starves broadcast builds and hash aggs long before
        # the 32 threads do, so the heap is sized from the host instead.
        # Static conf: applies only when this factory actually launches the
        # JVM (no-op via getOrCreate on a live one).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "4g")
        # Status-store retention caps. A long-lived local session that runs
        # the full 313-query registry several times (bench's cold + warm
        # passes) accumulates ~2k SQL executions and >10k stages in the
        # AppStatusListener/SQLAppStatusListener stores at Spark's default
        # caps (1000 executions, each pinning formatted plan strings; 1000
        # jobs/stages, 100k tasks). The round-12 bench window showed warm
        # pass totals climbing monotonically 112->125->146 s on an idle box
        # — listener-store heap growth, not data. Bounded tightly: the
        # engine never reads these stores; the UI stays usable for live
        # debugging with the most recent ~40 queries.
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "300")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "40")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # Whole-stage-codegen class cache (round 12, guide §1.2 "per-task
        # work"): Spark's default 100-entry CodeGenerator cache thrashes on
        # a session that runs the full 313-query registry — measured 1,578
        # generated-class RE-compiles per warm pass over just 80 queries
        # (CodegenMetrics), i.e. every plan recompiles on every pass. At
        # 5000 entries warm-pass compiles drop to ~25 and an 80-query pass
        # shrinks 26.8 -> 21.4 s. Not a local-only win: any long-lived
        # driver serving a query mix wider than 100 codegen units pays the
        # same repeated Janino compilation. Static conf (read when the
        # CodeGenerator cache is first built), hence set here and not in
        # tune_session.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
        # Round 12 (guide §5): localCheckpoint/broadcast blocks are only
        # released after the ContextCleaner sees their driver references
        # collected — and a large heap may not take a full GC for many
        # minutes, so a long pass over the registry (dozens of per-call
        # checkpoints) piles storage blocks until the collector stalls
        # mid-query (bench r12 mid-round record: individual queries
        # spiking 0.8 -> 43 s in late warm passes). Spark's own remedy is
        # the cleaner's periodic GC (default 30min — never fires inside a
        # pass); 90s keeps the block manager drained continuously.
        # Env-overridable; on a real cluster executors GC on their own
        # heap pressure and this only affects the driver.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "90s"),
        )
    )
    # Optional dedicated scratch root for shuffle/spill files (static conf,
    # only effective when this factory launches the JVM). bench.py points
    # this at an atexit-swept scratch dir so a crashed/killed run cannot
    # strand gigabytes of spill in the shared tmp (round-10 ENOSPC class).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return build_conf(builder).getOrCreate()


_TUNED_APPS: set[str] = set()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally provided session.

    The verification driver constructs its own SparkSession; static conf
    (master, memory) is theirs, but runtime conf that affects result
    determinism (timezone, ANSI mode) and small-scale latency (AQE, shuffle
    partition count — Spark's 200 default costs ~1-2 s of pure task
    scheduling PER QUERY at sf0.01) is settable here. Called by every
    registered query via the registry wrapper, memoized per application so
    the conf RPCs happen once per session.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _TUNED_APPS:
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")  # permissive tier-R casts
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    except Exception:
        pass  # static in some builds; fine
    _TUNED_APPS.add(app_id)
    return spark
