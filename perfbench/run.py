"""The engine's benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {migrate,queries} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run writes a seeded corpus and all of
its scratch files under ``.perfbench/`` there, starts the engine the way a
user does (``session.get_session``, ``registry.all_queries``, ``T`` on every
table), runs one cold pass and then as many warm passes as ``S`` seconds
nominally hold (``workloads.warm_passes``), checks every output outside the
timed region, and prints two lines on stdout: a report (sample counts,
effective Spark settings, host noise, failures) and, last, the result
object with the metrics declared in ``BENCHMARK.json`` — the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.

The engine runs with its own defaults except for the driver heap (see
``DRIVER_MEM``). The other settings made here keep the run's files inside
the checkout (temp, Spark local and warehouse dirs) and let Spark's Python
workers import the engine. See ``METRICS.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import random
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "mdb_to_postgres_spark"
CORPUS_SEED = 42
DRIVER_MEM = "4g"


def _parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, default=None,
        help="corpus scale factor instead of the workload's own (for tests)",
    )
    return p.parse_args(argv)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare(work: str, corpus_dir: str) -> str:
    """Fresh per-run scratch under ``work``; returns the run's directory."""
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(1, ROOT)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # The JVM's temp files go under the run dir; its perf-counter file would
    # go to /tmp whatever java.io.tmpdir says, so it stays in memory.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:+PerfDisableSharedMem"
    )
    # The engine derives its events-table oracle SQL from the corpus it
    # will read; point it at this one.
    os.environ["SPARK_GRAFT_SF_DIR"] = corpus_dir
    # The engine's default driver heap (24g) exceeds the memory of the
    # 15 GB host the benchmark was defined on, and a run's JVM reached 5 GB
    # resident with it. A heap that fits the host is pinned; the effective
    # value is in the report line.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.chdir(run_dir)  # spark-warehouse/, derby.log and metastore_db/ land here
    return run_dir


def main(argv: list[str] | None = None) -> int:
    args = _parse(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    declared = _declared()

    # Everything the engine, the JVM and log4j print goes to stderr; the
    # report and the result go to the real stdout at the very end.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    import corpus
    import host
    import report
    import sparkstats
    import workloads as wl
    from spans import Tracer

    sf = args.sf or wl.WORKLOAD_SF[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    # Some queries derive table names from the corpus directory's basename,
    # and the engine keeps on-disk artifacts under <checkout>/.cache/<basename>
    # keyed by that name alone, so the name must be an identifier and must not
    # collide with another corpus of the same scale factor.
    tag = f"bench_sf{sf}"
    corpus_dir = os.path.join(work, "corpus", f"seed{CORPUS_SEED}", tag)
    row_counts = corpus.write_corpus(corpus_dir, sf, CORPUS_SEED)
    run_dir = _prepare(work, corpus_dir)
    # Every run starts as in a fresh checkout: no engine artifacts on disk.
    shutil.rmtree(os.path.join(ROOT, ".cache", tag), ignore_errors=True)
    tracer = Tracer(bool(args.trace))

    # --- set-up: engine import to a ready session ----------------------
    c0 = host.tree_cpu_s([os.getpid()])
    t0 = time.perf_counter()
    with tracer.span("setup", tracer.new_call()):
        from mdb_to_postgres_spark import registry
        from mdb_to_postgres_spark.session import get_session
        from mdb_to_postgres_spark.sources.tables import TABLES, T

        t_sess = time.perf_counter()
        with tracer.span("session"):
            spark = get_session("perfbench")
        session_s = time.perf_counter() - t_sess
        with tracer.span("registry"):
            registry.all_queries()
        with tracer.span("catalog"):
            for t in TABLES:
                T(spark, corpus_dir, t)
    setup_s = time.perf_counter() - t0
    setup_cpu_s = host.tree_cpu_s([os.getpid()]) - c0
    setup_jit_s = sparkstats.jit_seconds(spark._jvm)

    try:
        log, info, result_rows, check_failures = _measure(args, spark, tracer, corpus_dir, run_dir)
    finally:
        _stop(spark)
    info.update(
        sf=sf, rows=row_counts, session_s=session_s, setup_cpu_s=setup_cpu_s,
        setup_jit_s=setup_jit_s,
    )

    run_tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(work, f"calls-{run_tag}.json"), "w") as f:
        json.dump(
            {
                "passes": [vars(p) for p in log.passes],
                "calls": [{k: v for k, v in vars(c).items() if k != "stats"} for c in log.calls],
            },
            f,
        )
    if args.trace:
        tracer.write(os.path.join(work, f"trace-{run_tag}.jsonl"))

    out = report.build(args, declared, log, setup_s, info, result_rows, check_failures)
    os.write(real_stdout, (json.dumps(out["report"]) + "\n").encode())
    os.write(real_stdout, (json.dumps(out["result"]) + "\n").encode())
    os.close(real_stdout)
    return 0


def _measure(args, spark, tracer, corpus_dir: str, run_dir: str):
    """The timed passes, then the output checks. Returns the run log, run
    facts, result rows per query and failed checks."""
    import host
    import workloads as wl
    from mdb_to_postgres_spark import cache_registry, registry
    from mdb_to_postgres_spark.etl.pipeline import full_table_copy
    from mdb_to_postgres_spark.sources.tables import TABLES, T
    from sparkstats import SparkProbe, rss_peak_mb

    queries = registry.all_queries()
    spark.sparkContext.setLogLevel("ERROR")
    probe = SparkProbe(spark, bool(args.trace))
    loop = wl.Loop(spark, probe, tracer, cache_registry.SESSION_CACHES)
    rng = random.Random(args.seed)
    n_warm = wl.warm_passes(args.workload, args.seconds, bool(args.trace))
    info: dict = {}
    check_failures: dict[str, str] = {}
    result_rows: dict[str, int] = {}
    host0 = host.sample()

    if args.workload == "migrate":
        from checks import CopyChecker

        checker = CopyChecker(corpus_dir)
        for t in TABLES:  # source hashes before the clock starts
            checker.source(t)
        per_pass = wl.run_migrate(
            loop, list(TABLES), T, full_table_copy, corpus_dir,
            os.path.join(run_dir, "out"), n_warm, rng, checker,
        )
        for number, bad in per_pass.items():
            for table, why in bad.items():
                check_failures[f"{table}@pass{number}"] = why
        result_rows = {t: checker.source(t)[0] for t in TABLES}
        info["source_bytes"] = sum(
            os.path.getsize(os.path.join(corpus_dir, f"{t}.parquet")) for t in TABLES
        )
    else:
        # A sampled query that is no longer registered is still called (and
        # fails) every pass, so the workload cannot shrink unnoticed.
        names = list(wl.SAMPLE)
        modules = {
            n: wl.short_module(inspect.unwrap(queries[n]).__module__) if n in queries
            else wl.UNREGISTERED
            for n in names
        }
        info.update(queries=names, missing=sorted(set(names) - set(queries)))
        wl.run_queries(loop, names, queries, modules, corpus_dir, n_warm, rng)

    # --- after the timed region ----------------------------------------
    host1 = host.sample()
    info.update(
        peak_rss_mb={"jvm": rss_peak_mb(probe.jvm_pid()), "python": rss_peak_mb()},
        heap_peak_mb=probe.heap_peak_mb(),
        conf=probe.effective_conf(),
        substrate_entries=sum(len(d) for _, d in cache_registry.SESSION_CACHES),
        host={"steal_s": host1[0] - host0[0], "load1_start": host0[1], "load1_end": host1[1]},
    )

    if args.workload != "migrate":
        from checks import QueryChecker

        oracles = registry.all_oracles()
        qc = QueryChecker(corpus_dir, TABLES)
        for name in info["queries"]:
            if name not in queries:
                continue  # its calls already failed
            with tracer.span("check", tracer.new_call(), query=name):
                try:
                    df = loop.last_df.get(name)
                    if df is None:  # every call to it raised
                        df = queries[name](spark, corpus_dir)
                    rows, why = qc.check(df, oracles.get(name))
                except Exception as e:
                    rows, why = 0, f"check raised {type(e).__name__}: {str(e)[:300]}"
            result_rows[name] = rows
            if why:
                check_failures[name] = why
        qc.close()
    return loop.log, info, result_rows, check_failures


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
