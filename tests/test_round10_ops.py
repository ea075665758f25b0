"""Round-10 depth items: the shared dedup pair-stats substrate, the
char-LM model-size guard, the global-order memo LRU bound, the staged-
stream staleness markers, and the ONE parametrized eviction audit over
the substrate store."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from conftest import ORACLE_SF, SMOKE_SF

from mdb_to_postgres_spark import registry
from mdb_to_postgres_spark.cache_registry import SESSION_CACHES, substrate

# Every decorated module is imported before the labels are collected, so
# the parametrization below covers the whole store.
registry.load_all()


# ---------------------------------------------------------------- caches


@pytest.mark.parametrize(
    "label,cache", SESSION_CACHES, ids=[l for l, _ in SESSION_CACHES]
)
def test_session_cache_sweeps_stale_app_keys(spark, label, cache):
    """Every store entry is keyed with applicationId first and any store
    access drops foreign-app keys under every label: a key surviving its
    session would pin dead-JVM plans/checkpoint blocks for the process
    lifetime (round-9/10 ADVICE hazard class)."""
    from mdb_to_postgres_spark.sources.tables import T

    app = spark.sparkContext.applicationId
    stale = ("app-dead-beef", "/no/such/sf")
    cache[stale] = "stale-artifact"
    T(spark, SMOKE_SF, "region")
    assert stale not in cache, label
    assert all(k[0] == app for k in cache), label


def test_raising_builder_caches_nothing(spark):
    calls = []

    @substrate("test.raising")
    def flaky(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 1:
            raise RuntimeError("build failed")
        return "built"

    cache = dict(SESSION_CACHES)["test.raising"]
    try:
        with pytest.raises(RuntimeError):
            flaky(spark, "/sf")
        assert cache == {}
        assert flaky(spark, "/sf") == "built"  # the next access builds again
        assert calls == ["/sf", "/sf"]
    finally:
        SESSION_CACHES.remove(("test.raising", cache))


def test_registry_is_complete():
    """No module-level *_CACHE dict outside the store: a cache there would
    bypass its eviction. Exempt: global_order's semanticHash-keyed,
    LRU-bounded build memo (own tests)."""
    import mdb_to_postgres_spark as pkg

    exempt = {"_BUILD_CACHE"}
    root = os.path.dirname(pkg.__file__)
    decl = re.compile(r"^(_[A-Z_]*CACHE)\s*(?::[^=]+)?=\s*\{\}", re.M)
    found = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                found += [
                    f"{os.path.relpath(path, root)}:{m.group(1)}"
                    for m in decl.finditer(open(path).read())
                    if m.group(1) not in exempt
                ]
    assert not found, f"module-level caches outside the store: {found}"


def test_table_catalog_evicts_stale_app(spark):
    from mdb_to_postgres_spark.sources import tables

    cache = dict(SESSION_CACHES)["tables.df"]
    cache[("app-dead-beef", "/no/such/sf")] = {"region": "stale"}
    region = tables.T(spark, SMOKE_SF, "region")
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in cache)
    assert cache[(app, SMOKE_SF)]["region"] is region
    assert tables.T(spark, SMOKE_SF, "region") is region


# ------------------------------------------------- global-order memo LRU


def test_build_memo_is_lru_bounded(spark, monkeypatch):
    from mdb_to_postgres_spark.functions import global_order as go

    monkeypatch.setattr(go, "_BUILD_CACHE_MAX", 4)
    go._BUILD_CACHE.clear()
    frames = [spark.range(i + 1) for i in range(7)]
    for i, df in enumerate(frames):
        assert go._build_memo(df, ("r10", i), lambda i=i: i) == i
    assert len(go._BUILD_CACHE) == 4
    # the oldest entries were evicted; the newest still hit
    app = spark.sparkContext.applicationId
    assert (app, frames[0].semanticHash(), ("r10", 0)) not in go._BUILD_CACHE
    hits_before = go._BUILD_MISSES
    assert go._build_memo(frames[6], ("r10", 6), lambda: "MISS") == 6
    assert go._BUILD_MISSES == hits_before, "bounded memo lost a live hit"
    # LRU, not FIFO: touching the oldest surviving key protects it
    go._build_memo(frames[3], ("r10", 3), lambda: "MISS")
    go._build_memo(spark.range(99), ("r10", 99), lambda: 99)
    assert (app, frames[3].semanticHash(), ("r10", 3)) in go._BUILD_CACHE
    go._BUILD_CACHE.clear()


# ------------------------------------------------ shared pair substrate


def test_pair_stats_substrate_is_shared(spark):
    """The Jaccard pair list and the containment engine must consume ONE
    (dfreq, doc_stats) build per (session, sf) — the round-10 headline
    structure-sharing item."""
    from mdb_to_postgres_spark.extensions import dedup
    from mdb_to_postgres_spark.registry import QUERIES

    app = spark.sparkContext.applicationId
    cache = dict(SESSION_CACHES)["dedup.pair_stats"]
    cache.clear()
    QUERIES["x_dedup_near_jaccard"](spark, SMOKE_SF).count()
    QUERIES["x_dedup_containment"](spark, SMOKE_SF).count()
    keys = [k for k in cache if k[0] == app]
    assert keys == [(app, SMOKE_SF)], keys
    a = dedup.doc_pair_stats(spark, SMOKE_SF)
    b = dedup.doc_pair_stats(spark, SMOKE_SF)
    assert a[0] is b[0] and a[1] is b[1]


def test_containment_with_substrate_equals_standalone(spark):
    """Injecting the session substrate must not change a single pair."""
    from mdb_to_postgres_spark.extensions.dedup import (
        _containment_from,
        doc_pair_stats,
        doc_shingles,
    )

    sh = doc_shingles(spark, SMOKE_SF)
    key = lambda pdf: sorted(
        (a, b, round(c, 9), round(j, 9))
        for a, b, c, j in pdf[["doc_a", "doc_b", "containment", "jaccard"]].values
    )
    with_stats = key(
        _containment_from(sh, stats=doc_pair_stats(spark, SMOKE_SF)).toPandas()
    )
    standalone = key(_containment_from(sh).toPandas())
    assert with_stats == standalone


# ------------------------------------------------------ char-LM guard


def test_char_lm_broadcast_fallback_bit_equal(spark, monkeypatch):
    """Forcing the model over the map-literal cap must route scoring
    through the broadcast-join path and reproduce the map-only result
    bit-for-bit (same integer lattice)."""
    from mdb_to_postgres_spark.extensions import text_analysis as ta
    from mdb_to_postgres_spark.registry import QUERIES

    canon = lambda pdf: sorted(
        (d, n, s, round(m, 12))
        for d, n, s, m in pdf[
            ["doc_id", "n_bigrams", "ppm_sum", "mean_bigram_prob"]
        ].values
    )
    base = canon(QUERIES["x_text_char_lm_score"](spark, SMOKE_SF).toPandas())
    monkeypatch.setattr(ta, "_CHAR_LM_MAP_MAX", 0)
    fallback_df = QUERIES["x_text_char_lm_score"](spark, SMOKE_SF)
    # the guard really rerouted: no map-literal lookup in the plan
    plan = fallback_df._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" not in plan
    assert canon(fallback_df.toPandas()) == base


# ------------------------------------------------ stream staging markers


def test_sliced_stage_restages_when_source_regenerates(spark, tmp_path):
    from mdb_to_postgres_spark.streaming import runtime

    sf = tmp_path / "sfr10"
    sf.mkdir()
    shutil.copyfile(f"{SMOKE_SF}/events.parquet", sf / "events.parquet")
    runtime.read_events_stream_sliced(spark, str(sf), n_slices=3)
    tag = os.path.basename(str(sf))
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(runtime.__file__)))
    )
    stage = os.path.join(repo, ".cache", tag, "events_stream_sliced_3")
    done = os.path.join(os.path.dirname(stage), "events_stream_sliced_3.done")
    slice0 = os.path.join(stage, "slice_000.parquet")
    sig1 = open(done).read()
    assert sig1 == runtime.src_sig(str(sf / "events.parquet"))
    ctime1 = os.stat(slice0).st_ctime_ns
    # same content staged again -> no restage (slice untouched)
    runtime.read_events_stream_sliced(spark, str(sf), n_slices=3)
    assert os.stat(slice0).st_ctime_ns == ctime1
    # "regenerate" the source (mtime changes) -> marker mismatch -> restage
    os.utime(sf / "events.parquet", (1_800_000_000, 1_800_000_000))
    runtime.read_events_stream_sliced(spark, str(sf), n_slices=3)
    sig2 = open(done).read()
    assert sig2 != sig1
    assert sig2 == runtime.src_sig(str(sf / "events.parquet"))
    assert os.stat(slice0).st_ctime_ns != ctime1, "slices were not re-staged"
    shutil.rmtree(os.path.join(repo, ".cache", tag), ignore_errors=True)


# ------------------------------------------------ on-disk artifacts


def _repo_cache(tag: str) -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", tag)


def test_same_name_corpora_do_not_share_artifacts(spark, tmp_path):
    """Artifacts live under .cache/<corpus dir name>/; a second corpus
    with the same directory name must get its own rows, not the first
    one's cached round-trip."""
    import pyarrow.parquet as pq

    from mdb_to_postgres_spark.registry import QUERIES

    tag = f"same_name_{os.getpid()}"
    nation = pq.read_table(f"{SMOKE_SF}/nation.parquet")
    first, second = tmp_path / "a" / tag, tmp_path / "b" / tag
    for d, rows in ((first, nation), (second, nation.slice(0, 5))):
        d.mkdir(parents=True)
        pq.write_table(rows, str(d / "nation.parquet"))
    try:
        assert QUERIES["scan_csv"](spark, str(first)).count() == 25
        assert QUERIES["scan_csv"](spark, str(second)).count() == 5
        assert QUERIES["scan_csv"](spark, str(first)).count() == 25
    finally:
        shutil.rmtree(_repo_cache(tag), ignore_errors=True)


def test_bucketed_dedup_on_hyphenated_corpus_dir(spark, tmp_path):
    """Table names derived from the corpus directory must be identifiers
    whatever the directory is called."""
    from mdb_to_postgres_spark.registry import QUERIES

    d = tmp_path / "my-corpus"
    d.mkdir()
    shutil.copyfile(f"{SMOKE_SF}/documents.parquet", d / "documents.parquet")
    try:
        got = QUERIES["join_bucketed_dedup_verify"](spark, str(d)).toPandas()
        want = QUERIES["join_bucketed_dedup_verify"](spark, SMOKE_SF).toPandas()
        key = ["doc_a", "doc_b"]
        assert got.sort_values(key).reset_index(drop=True).equals(
            want.sort_values(key).reset_index(drop=True)
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS minhash_bands_bkt_my_corpus")


def test_dedup_stream_schema_contract(spark):
    """Output schema ends at minute_start — the internal minute_ts helper
    must not leak (round-9 ADVICE: silent output-schema change)."""
    from mdb_to_postgres_spark.streaming import runtime

    cols = runtime.dedup_stream(
        runtime.read_events_stream(spark, ORACLE_SF)
    ).columns
    assert "minute_ts" not in cols
    assert "minute_start" in cols
