"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start the engine once per workload and trace mode
(about four minutes in all); the rest run in seconds without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import report  # noqa: E402
import workloads as wl  # noqa: E402
from checks import CopyChecker, QueryChecker  # noqa: E402
from stats import hd_percentile, median, percentile  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)


# --- percentile helper ------------------------------------------------------
@pytest.mark.parametrize(
    "values,q,want",
    [
        ([1.0], 90.0, 1.0),
        ([3.0, 1.0, 2.0], 50.0, 2.0),
        ([1.0, 2.0, 3.0, 4.0], 50.0, 2.5),
        ([1.0, 2.0, 3.0, 4.0], 0.0, 1.0),
        ([1.0, 2.0, 3.0, 4.0], 100.0, 4.0),
        (list(range(1, 11)), 90.0, 9.1),
        (list(range(101)), 90.0, 90.0),
    ],
)
def test_percentile_known_values(values, q, want):
    assert percentile([float(v) for v in values], q) == pytest.approx(want)


def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(7)
    xs = list(rng.exponential(1.0, 137))
    for q in (5.0, 50.0, 90.0, 99.0):
        assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    assert median(xs) == pytest.approx(float(np.median(xs)))


@pytest.mark.parametrize(
    "values,q,want",
    [
        # n = 3, median: Beta(2, 2) weights 7/27, 13/27, 7/27
        ([0.0, 0.0, 27.0], 50.0, 7.0),
        ([1.0, 2.0], 50.0, 1.5),
        ([5.0, 5.0, 5.0], 90.0, 5.0),
        ([1.0, 2.0, 3.0, 4.0, 5.0], 50.0, 3.0),
        # on an even grid the estimate sits next to the linear percentile
        (list(range(1001)), 90.0, 900.4),
    ],
)
def test_harrell_davis_known_values(values, q, want):
    assert hd_percentile([float(v) for v in values], q) == pytest.approx(want, abs=1e-9)


def test_harrell_davis_is_steady_across_a_gap_between_clusters():
    # 9 small calls and 1 big one per pass, as in a copy of 10 tables: the
    # 90th percentile sits at the gap, where the linear rule follows the
    # largest small call alone.
    small = [0.2 + 0.001 * i for i in range(45)]
    big = [0.9] * 5
    a = small + big
    b = small[:-1] + [0.4] + big  # one slow small call
    assert abs(percentile(b, 90.0) - percentile(a, 90.0)) > 0.1
    assert abs(hd_percentile(b, 90.0) - hd_percentile(a, 90.0)) < 0.05


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50.0)
    with pytest.raises(ValueError):
        percentile([1.0], 101.0)
    with pytest.raises(ValueError):
        hd_percentile([1.0], 100.0)


# --- inputs -----------------------------------------------------------------
def test_corpus_is_a_function_of_the_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    corpus.write_corpus(str(a), 0.001, 42)
    corpus.write_corpus(str(b), 0.001, 42)
    corpus.write_corpus(str(c), 0.001, 43)
    same = CopyChecker(str(a))
    for t in corpus.TABLES:
        assert same.check(t, str(b / f"{t}.parquet")) is None
    assert any(same.check(t, str(c / f"{t}.parquet")) for t in ("lineitem", "documents"))


def test_corpus_matches_the_engine_test_corpus_layout(tmp_path):
    # Row counts and timestamp type of the engine's sf0.001/0.01/0.1 test
    # corpora, read from their parquet footers.
    assert {sf: (corpus.row_counts(sf)["documents"], corpus.row_counts(sf)["embeddings"])
            for sf in (0.001, 0.01, 0.1)} == {0.001: (500, 500), 0.01: (500, 500), 0.1: (5000, 2000)}
    assert corpus.row_counts(0.1)["lineitem"] == 600_000
    corpus.write_corpus(str(tmp_path), 0.001, 42)
    import pyarrow as pa
    import pyarrow.parquet as pq

    for table, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"), ("events", "ts")):
        assert pq.read_schema(tmp_path / f"{table}.parquet").field(col).type == pa.timestamp("us")
    ts = pq.read_table(tmp_path / "events.parquet").column("ts").to_numpy()
    assert (np.diff(ts.astype("int64")) >= 0).all()


def test_sample_is_one_registered_query_per_module():
    sys.path.insert(1, ROOT)
    import inspect

    from mdb_to_postgres_spark import registry

    queries = registry.all_queries()
    modules = [wl.short_module(inspect.unwrap(queries[n]).__module__) for n in wl.SAMPLE]
    assert len(set(modules)) == len(wl.SAMPLE)
    every = {wl.short_module(inspect.unwrap(fn).__module__) for fn in queries.values()}
    assert every - set(modules) == {"sources.python_source"}


def test_warm_pass_count_follows_seconds():
    assert wl.warm_passes("migrate", 1) == wl.MIN_WARM_PASSES
    assert wl.warm_passes("migrate", 1, traced=True) == wl.MIN_TRACED_WARM_PASSES
    assert wl.warm_passes("migrate", 34) > wl.warm_passes("migrate", 18)
    for w in wl.WORKLOADS:
        assert wl.warm_passes(w, 15) >= wl.MIN_WARM_PASSES


class _NoProbe:
    def clear_group(self):
        pass

    def jit_seconds(self):
        return 0.0


def test_unregistered_sample_query_counts_as_failed():
    from spans import Tracer

    loop = wl.Loop(None, _NoProbe(), Tracer(False), [])
    p = wl.Pass(1, traced=False)
    loop.query_call(p, "renamed_away", None, wl.UNREGISTERED, "unused")
    assert loop.log.calls[0].error.startswith("LookupError")


# --- failure accounting -----------------------------------------------------
class _WrongFrame:
    """Stands in for a query result that disagrees with its oracle."""

    def toPandas(self):  # noqa: N802 (DataFrame API)
        return pd.DataFrame({"n": [999]})

    def count(self):
        return 0


def test_wrong_stand_in_query_raises_failed_ratio(tmp_path):
    corpus.write_corpus(str(tmp_path), 0.001, 42)
    qc = QueryChecker(str(tmp_path), corpus.TABLES)
    rows, why = qc.check(_WrongFrame(), "SELECT COUNT(*) AS n FROM region")
    assert why is not None
    _, rows_only_why = qc.check(_WrongFrame(), None)
    assert rows_only_why is not None
    qc.close()

    log = wl.RunLog()
    for number in range(3):
        log.passes.append(wl.Pass(number, traced=False, wall_s=1.0, cpu_s=0.6))
        log.calls.append(wl.Call(number, "good_query", "operators.scans", 0.1, 0.2, cpu_s=0.3))
        log.calls.append(wl.Call(number, "wrong_query", "operators.scans", 0.1, 0.2, cpu_s=0.3))
    args = type("Args", (), {"workload": "queries", "seed": 0, "trace": 0, "seconds": 1.0})
    info = {
        "rows": {},
        "setup_cpu_s": 2.0,
        "peak_rss_mb": {"jvm": 100.0, "python": 50.0},
        "conf": {"defaultParallelism": "4"},
    }
    out = report.build(
        args, DECLARED, log, 1.0, info, {"good_query": 5, "wrong_query": rows},
        {"wrong_query": why},
    )
    assert out["result"]["correct"] is False
    assert out["result"]["failed"] == 3
    assert out["report"]["failed_ratio"] == pytest.approx(0.5)


def test_copy_check_catches_a_changed_table(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    corpus.write_corpus(str(src), 0.001, 42)
    checker = CopyChecker(str(src))
    pdf = pd.read_parquet(src / "nation.parquet")
    dst.mkdir()
    pdf.to_parquet(dst / "nation.parquet")
    assert checker.check("nation", str(dst / "nation.parquet")) is None
    pdf.loc[3, "n_name"] = "CHANGED"
    pdf.to_parquet(dst / "nation.parquet")
    assert checker.check("nation", str(dst / "nation.parquet")) == "content hash differs"
    pdf.iloc[:-1].to_parquet(dst / "nation.parquet")
    assert checker.check("nation", str(dst / "nation.parquet")).startswith("rows")


# --- end to end -------------------------------------------------------------
def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(BENCH, "run.py"),
            "--workload", workload, "--seed", "0", "--seconds", "1",
            "--trace", str(trace), "--sf", "0.001",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", wl.WORKLOADS)
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_declared_metric_is_printed_with_its_unit(workload, trace, kind):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in DECLARED[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if kind == "end_to_end":
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_without_the_engine_the_run_fails_without_a_result(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "migrate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
