"""Registry entries for the JDBC source/sink (SURVEY.md §2.1 #1, #5).

These drive the reference's ACTUAL endpoints end-to-end inside a query:
parquet -> embedded Derby (the JDBC engine shipped with Spark) -> JDBC scan
back. Because a JDBC round-trip preserves row content exactly, both are
hash-checkable against the trivial oracle ``SELECT * FROM t`` — the
copy-fidelity ≡ scan-fidelity argument from SURVEY.md §2.1 #4.

Derby folds unquoted identifiers to upper case on the way in; the read-back
re-aliases to the canonical lower-case names so the oracle compare (which
sorts columns by name) lines up. Postgres would need the same treatment —
identifier sanitization is tier-R surface (operators/projection.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..scratch import scratch_dir
from ..sources import jdbc
from ..sources.tables import T, corpus_ident

# One scratch Derby database per (process, sf_dir); reused across calls so
# repeated driver invocations don't pile up databases. The dir is
# registered with the scratch sweeper: removed at interpreter exit, and a
# killed process's leftovers are cleared by the next harness startup.
_DB_DIRS: dict[str, str] = {}


def _derby_url(sf_dir: str) -> str:
    d = _DB_DIRS.get(sf_dir)
    if d is None:
        d = _DB_DIRS[sf_dir] = scratch_dir("mdbspark_derby_")
    return f"jdbc:derby:{d}/db_{corpus_ident(sf_dir)};create=true"


def _lower_cols(df: DataFrame) -> DataFrame:
    return df.select([F.col(c).alias(c.lower()) for c in df.columns])


@query("scan_jdbc_source", oracle="SELECT * FROM nation")
def scan_jdbc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned JDBC scan (#1): nation -> Derby, then a parallel
    range-predicate read (bounds from a scalar MIN/MAX pre-query) — the
    read path a 1000-executor ingest of a big Postgres table uses."""
    url = _derby_url(sf_dir)
    jdbc.write_table(T(spark, sf_dir, "nation"), url, "nation_scan_src")
    back = jdbc.read_partitioned(
        spark, url, "nation_scan_src", partition_column="n_nationkey", num_partitions=4
    )
    return _lower_cols(back)


@query("sink_jdbc_batch", oracle="SELECT * FROM region")
def sink_jdbc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched JDBC sink (#5): region loaded with multi-row INSERT batches
    (one transaction per partition), verified by scanning the sink back."""
    url = _derby_url(sf_dir)
    jdbc.write_table(T(spark, sf_dir, "region"), url, "region_sink", batchsize=1000)
    return _lower_cols(jdbc.read_table(spark, url, "region_sink"))
