"""Turns one run's log into the report line and the result object.

End-to-end metrics come from untraced passes; in a traced run the warm
passes alternate traced/untraced, the per-layer metrics come from the traced
ones, and the tracing overhead is the traced minus the untraced warm pass.
Per-layer times and counts are per warm pass (median over traced warm
passes) unless the name says otherwise.

Set-up, passes and calls are timed in CPU seconds of the engine's
processes, which leave out the time a virtual machine's host takes the CPUs
away; the same figures in wall seconds go into the report line.
"""

from __future__ import annotations

import re

from stats import hd_percentile, median

SUBSTRATE_LABELS_IN_REPORT = 12


def _median_or_zero(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def end_to_end(log, setup_s: float, info: dict, result_rows: dict[str, int], failed: set):
    """The end-to-end metrics (CPU-timed), the same in wall seconds, and
    the sample counts."""
    passes = log.passes
    warm = [p for p in passes[1:] if not p.traced] or passes[1:]
    warm_nos = {p.number for p in warm}
    warm_calls = [c for c in log.calls if c.pass_no in warm_nos and c.error is None]
    rows = sum(result_rows.get(c.name, 0) for c in warm_calls if c.name not in failed)
    cpu = [c.cpu_s for c in warm_calls]
    lat = [c.seconds for c in warm_calls]
    metrics = {
        "setup_s": info["setup_cpu_s"],
        "cold_pass_cpu_s": passes[0].cpu_s,
        "warm_pass_cpu_s": median([p.cpu_s for p in warm]),
        "warm_query_cpu_p50_s": hd_percentile(cpu, 50.0),
        "warm_query_cpu_p90_s": hd_percentile(cpu, 90.0),
        "rows_per_cpu_s": rows / sum(p.cpu_s for p in warm),
    }
    wall = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0].seconds,
        "warm_pass_s": median([p.seconds for p in warm]),
        "warm_query_p50_s": hd_percentile(lat, 50.0),
        "warm_query_p90_s": hd_percentile(lat, 90.0),
        "rows_per_s": rows / sum(p.seconds for p in warm),
    }
    samples = {
        "warm_passes": len(warm),
        "warm_calls": len(lat),
        "cold_calls": sum(1 for c in log.calls if c.pass_no == 0),
    }
    return metrics, wall, samples


def _pass_sums(calls, key) -> float:
    return sum(key(c) for c in calls if c.error is None and c.stats)


def per_layer(log, info: dict, cores: int) -> tuple[dict, dict]:
    passes = log.passes
    traced_warm = [p for p in passes[1:] if p.traced]
    untraced_warm = [p for p in passes[1:] if not p.traced]
    by_pass = {p.number: [c for c in log.calls if c.pass_no == p.number] for p in passes}
    modules = sorted({c.module for c in log.calls})

    def per_pass(key) -> float:
        return _median_or_zero([_pass_sums(by_pass[p.number], key) for p in traced_warm])

    def spark(field):
        return lambda c: c.stats["build"][field] + c.stats["exec"][field]

    out: dict[str, float] = {
        "session.start_s": info["session_s"],
        "session.heap_peak_mb": info["heap_peak_mb"],
        "session.peak_rss_mb": info["peak_rss_mb"]["jvm"] + info["peak_rss_mb"]["python"],
        "session.pass_growth": passes[-1].seconds / passes[1].seconds,
        "registry.build_s": 0.0,
        "registry.exec_s": 0.0,
        "registry.build_jobs": 0.0,
        "registry.build_share": 0.0,
        "sources.resolve_s": 0.0,
        "sources.rows_read": 0.0,
        "etl.copy_s": 0.0,
        "etl.rows_written": 0.0,
        "etl.bytes_written": 0.0,
        "etl.bytes_out_per_in": 0.0,
    }
    build = per_pass(lambda c: c.build_s)
    exec_ = per_pass(lambda c: c.exec_s)
    if "source_bytes" in info:  # migrate: the call is T + full_table_copy
        written = per_pass(lambda c: c.stats["bytes_written"])
        out.update(
            {
                "sources.resolve_s": build,
                "sources.rows_read": per_pass(lambda c: c.stats["exec"]["input_records"]),
                "etl.copy_s": exec_,
                "etl.rows_written": per_pass(lambda c: c.stats["exec"]["output_records"]),
                "etl.bytes_written": written,
                "etl.bytes_out_per_in": written / info["source_bytes"],
            }
        )
    else:
        out.update(
            {
                "registry.build_s": build,
                "registry.exec_s": exec_,
                "registry.build_jobs": per_pass(lambda c: c.stats["build"]["jobs"]),
                "registry.build_share": build / (build + exec_) if build + exec_ else 0.0,
            }
        )
    for m in modules:
        if m == "etl.pipeline":
            continue
        out[f"{m}.build_s"] = per_pass(lambda c, m=m: c.build_s if c.module == m else 0.0)
        out[f"{m}.exec_s"] = per_pass(lambda c, m=m: c.exec_s if c.module == m else 0.0)

    cold = by_pass[0]
    grown_cold = [c for c in cold if c.stats.get("grown")]
    substrate_s: dict[str, float] = {}
    for c in grown_cold:  # a building call's time goes to the caches that grew
        for label in c.stats["grown"]:
            substrate_s[label] = substrate_s.get(label, 0.0) + c.seconds / len(c.stats["grown"])
    out.update(
        {
            "substrate.builds": float(sum(sum(c.stats["grown"].values()) for c in grown_cold)),
            "substrate.builds_warm": float(
                sum(_pass_sums(by_pass[p.number], lambda c: sum(c.stats["grown"].values())) for p in traced_warm)
            ),
            "substrate.build_s": sum(substrate_s.values()),
            "substrate.entries": float(info["substrate_entries"]),
            "spark.catalyst.analysis_s": per_pass(lambda c: c.stats["phases"]["analysis"]),
            "spark.catalyst.optimization_s": per_pass(lambda c: c.stats["phases"]["optimization"]),
            "spark.catalyst.planning_s": per_pass(lambda c: c.stats["phases"]["planning"]),
            "spark.codegen_compiles": per_pass(lambda c: c.stats["codegen"]),
            "spark.jobs": per_pass(spark("jobs")),
            "spark.stages": per_pass(spark("stages")),
            "spark.tasks": per_pass(spark("tasks")),
            "spark.failed_tasks": per_pass(spark("failed_tasks")),
            "spark.task_run_s": per_pass(spark("task_run_ms")) / 1000.0,
            "spark.core_idle_s": per_pass(
                lambda c: c.exec_s * cores - c.stats["exec"]["task_run_ms"] / 1000.0
            ),
            "spark.shuffle_read_bytes": per_pass(spark("shuffle_read_bytes")),
            "spark.shuffle_write_bytes": per_pass(spark("shuffle_write_bytes")),
            "spark.spill_bytes": per_pass(spark("spill_bytes")),
            "spark.gc_s": per_pass(lambda c: c.stats["gc_s"]),
            "jvm.jit_s": per_pass(lambda c: c.jit_s),
            "spark.input_bytes": per_pass(spark("input_bytes")),
            "spark.output_bytes": per_pass(spark("output_bytes")),
            "trace.overhead_s": _median_or_zero([p.wall_s for p in traced_warm])
            - _median_or_zero([p.wall_s for p in untraced_warm]),
            "trace.bookkeeping_s": _median_or_zero([p.bookkeeping_s for p in traced_warm]),
        }
    )
    top = sorted(substrate_s.items(), key=lambda kv: -kv[1])[:SUBSTRATE_LABELS_IN_REPORT]
    return out, {"substrate_build_s": dict(top), "traced_warm_passes": len(traced_warm)}


_MODULE_METRIC = re.compile(r"^[a-z_]+\.[a-z_]+\.(build_s|exec_s)$")


def _select(values: dict[str, float], specs: list[dict]) -> dict:
    out = {}
    for spec in specs:
        name = spec["name"]
        if name in values:
            v = values[name]
        elif _MODULE_METRIC.match(name):
            v = 0.0  # a module with no queries in this run
        else:
            raise KeyError(f"declared metric {name} was not measured")
        out[name] = {"value": float(v), "unit": spec["unit"]}
    return out


def build(args, declared: dict, log, setup_s: float, info: dict,
          result_rows: dict[str, int], check_failures: dict[str, str]) -> dict:
    failed_queries = {k for k in check_failures if "@" not in k}
    failed_passes = {}
    for k in check_failures:
        if "@" in k:
            table, p = k.split("@pass")
            failed_passes.setdefault(int(p), set()).add(table)
    failed = 0
    errors: dict[str, str] = {}
    for c in log.calls:
        if c.error is not None:
            failed += 1
            errors.setdefault(c.name, c.error)
        elif c.name in failed_queries or c.name in failed_passes.get(c.pass_no, ()):
            failed += 1
    attempted = len(log.calls)
    e2e, wall, samples = end_to_end(log, setup_s, info, result_rows, failed_queries)
    cores = int(info["conf"]["defaultParallelism"])
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "samples": samples,
        "failed_ratio": failed / attempted,
        "end_to_end": e2e,
        "wall": wall,
        "passes_s": [round(p.seconds, 4) for p in log.passes],
        "passes_cpu_s": [round(p.cpu_s, 3) for p in log.passes],
        "passes_jit_s": [round(p.jit_s, 3) for p in log.passes],
        "errors": errors,
        "check_failures": check_failures,
        **{k: v for k, v in info.items() if k != "rows"},
        "corpus_rows": info["rows"],
    }
    if args.trace:
        layer, extra = per_layer(log, info, cores)
        report["per_layer"] = layer
        report.update(extra)
        metrics = _select(layer, declared["per_layer"])
    else:
        metrics = _select(e2e, declared["end_to_end"])
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return {"report": report, "result": result}
