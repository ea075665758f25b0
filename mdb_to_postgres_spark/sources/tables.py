"""Test-corpus table catalog (TPC-H-ish star schema + events/documents/embeddings).

``T(spark, sf_dir, name)`` is the canonical scan used by every registered
query. It is a plain ``spark.read.parquet`` — Catalyst owns pushdown and
column pruning from there; at cluster scale the same call reads a
partitioned table directory with partition pruning intact.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache_registry import substrate

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor — TPC-H
# region/nation are fixed-size; supplier/part/customer grow with sf but the
# broadcast decision for those is left to Catalyst/AQE thresholds.
ALWAYS_BROADCAST = ("region", "nation")


# The per-session table catalog. spark.read.parquet costs a driver<->JVM
# roundtrip to read the footer schema on EVERY call; a real engine resolves
# scans against a catalog (metastore) instead of re-deriving the schema per
# query. One store entry per (session, sf_dir) holds that corpus's
# name -> DataFrame map, filled as tables are first asked for.
@substrate("tables.df")
def _catalog(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # Runtime conf needed for determinism against the DuckDB oracle even
    # when the caller built the SparkSession without our factory: UTC
    # timezone, and nanosecond parquet timestamps surfaced as BIGINT nanos
    # (Spark 4 refuses TIMESTAMP(NANOS) otherwise; the events table
    # carries one).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Permissive casts are tier-R semantics (bad value -> NULL, like the
    # reference's tolerant load) and several queries rely on them.
    # Spark 4 defaults ANSI on, and the verification driver builds its
    # own session — so pin it here, not only in our session factory.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return {}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table (catalog-cached per session; see _catalog
    for the session conf the first scan of a corpus pins)."""
    tables = _catalog(spark, sf_dir)
    df = tables.get(name)
    if df is None:
        df = tables[name] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df


def corpus_tag(sf_dir: str) -> str:
    """The corpus directory's name; it names the corpus's artifact
    directory (``.cache/<name>/``)."""
    return os.path.basename(os.path.normpath(sf_dir)) or "sf"


def corpus_ident(sf_dir: str) -> str:
    """``corpus_tag`` made safe for table and database names."""
    return re.sub(r"\W", "_", corpus_tag(sf_dir))


def src_parts(path: str) -> list[str]:
    """The physical parquet files of a source table: [path] for a
    single-file table, the sorted part files for a directory table.

    A directory that yields ZERO parts (nested layout, Hive partitioning,
    non-parquet contents) raises instead of silently staging an empty
    stream source — an unexpected layout must fail loudly, not return an
    empty result (round-10 ADVICE)."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            raise ValueError(
                f"directory table {path!r} contains no top-level *.parquet "
                "part files — nested/Hive-partitioned layouts are not "
                "supported by the file-stream stager"
            )
        return parts
    return [path]


def src_sig(path: str) -> str:
    """Identity of a source table: (mtime_ns, size) for a single-file
    table; for a directory table (the scale_corpus replicas write
    Spark-style part-file directories) the same pair per part file,
    hashed. A directory's own stat is NOT content identity — parts can
    be rewritten without touching the dir mtime. Artifacts derived from a
    table store it beside themselves, so a regenerated source invalidates
    them. Part enumeration goes through src_parts, so an empty directory
    layout raises here too, before any marker is written."""
    if os.path.isdir(path):
        import hashlib

        sigs = []
        for p in src_parts(path):
            st = os.stat(p)
            sigs.append(f"{os.path.basename(p)}:{st.st_mtime_ns}:{st.st_size}")
        return hashlib.md5("|".join(sigs).encode()).hexdigest()
    st = os.stat(path)
    return f"{st.st_mtime_ns}:{st.st_size}"


def read_marker(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with usable time columns.

    The corpus has shipped ``ts`` as BIGINT nanoseconds in one generation
    and TIMESTAMP(US) (no timezone) in another, so this adapts to whatever
    the parquet footer says rather than assuming either. It derives
    - ``ts_sec``: epoch seconds (BIGINT) — the canonical deterministic
      time axis for joins/windows (ns-vs-us precision never leaks), and
    - ``ts``: a microsecond TimestampType for Spark time-window operators
      (with the session pinned to UTC by T, NTZ->TIMESTAMP is identity,
      matching DuckDB's EXTRACT(epoch FROM ts) on the same file).
    """
    e = T(spark, sf_dir, "events")
    if e.schema["ts"].dataType.simpleString() == "bigint":
        ts_sec = F.expr("ts DIV 1000000000")
        ts_us = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        ts_us = F.col("ts").cast("timestamp")
        # 2024-era data: unix_seconds truncation == FLOOR(EXTRACT(epoch)).
        ts_sec = F.unix_seconds(ts_us)
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        ts_sec.alias("ts_sec"),
        ts_us.alias("ts"),
    )


_EV_GEN: str | None = None


def events_generation() -> str:
    """'bigint' | 'timestamp' — the events.ts storage generation, probed
    from the parquet footers of every testdata sf dir (pyarrow, no Spark
    session needed; called once at oracle-construction/import time).

    The corpus has shipped ts as BIGINT nanoseconds in one generation and
    TIMESTAMP(US) in another. The Spark side (events_ts) adapts per file;
    oracle SQL is a static string registered at import, so it derives from
    THIS probe — and if the sf dirs ever disagree with each other no
    single string can be right, which fails loudly here instead of as a
    silent per-sf hash mismatch."""
    global _EV_GEN
    if _EV_GEN is None:
        import glob
        import os

        import pyarrow.parquet as pq
        import pyarrow.types as pat

        roots = set(glob.glob("/root/testdata/sf*"))
        env = os.environ.get("SPARK_GRAFT_SF_DIR")
        if env:
            roots.add(env)
        kinds = set()
        for root in sorted(roots):
            path = os.path.join(root, "events.parquet")
            if not os.path.exists(path):
                continue
            if os.path.isdir(path):
                # multi-file table (e.g. the per-copy sf1 replica): all
                # parts share one writer schema — footer-probe the first
                parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
                if not parts:
                    continue
                path = parts[0]
            t = pq.read_schema(path).field("ts").type
            kinds.add("bigint" if pat.is_integer(t) else "timestamp")
        if len(kinds) > 1:
            raise RuntimeError(
                f"events.ts generations disagree across sf dirs ({kinds}); "
                "static oracle SQL cannot serve both — regenerate testdata "
                "to one generation"
            )
        _EV_GEN = kinds.pop() if kinds else "timestamp"
    return _EV_GEN


def ev_sec_sql(col: str = "ts") -> str:
    """DuckDB epoch-seconds expression for events.ts, matching events_ts's
    Spark-side derivation for the probed generation (BIGINT ns: floor-div;
    timestamp: unix_seconds == FLOOR(EXTRACT(epoch)) for 2024-era data)."""
    if events_generation() == "bigint":
        return f"({col} // 1000000000)"
    return f"CAST(FLOOR(EXTRACT(epoch FROM {col})) AS BIGINT)"


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full catalog and register temp views (for spark.sql use)."""
    out = {}
    for name in TABLES:
        df = T(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
