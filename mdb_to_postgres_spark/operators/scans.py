"""Scans, sources, sinks — tier R gate queries (SURVEY.md §2.1 #1-8).

The reference's whole surface is "read every table, write every table".
Here each source/sink format is exercised as a round-trip query whose
result must equal the original table, so copy fidelity is checked by the
same hash gate as everything else.

Round-trip artifacts are written under ``.cache/<corpus dir name>/`` in
the repo — writing is part of the operator under test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache_registry import substrate
from ..registry import query
from ..sources.tables import T as tbl
from ..sources.tables import corpus_tag, read_marker, src_sig

_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".cache")


def _corpus_sig(sf_dir: str) -> str:
    import glob
    import hashlib

    sigs = [src_sig(p) for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))]
    return hashlib.md5("|".join(sigs).encode()).hexdigest()


def _artifact(sf_dir: str, name: str, write) -> str:
    """Path of the corpus's on-disk artifact ``name``
    (``.cache/<corpus dir name>/name``), first written by ``write(path)``.

    The directory is keyed by the corpus directory's name alone, so the
    marker beside it records which corpus the artifact was written from
    (every table's size and mtime, like the stream stager's). It is
    removed before and rewritten only after ``write`` returns: a run that
    died mid-write, or an artifact of another corpus with the same
    directory name, is rewritten instead of served."""
    path = os.path.join(_CACHE, corpus_tag(sf_dir), name)
    marker, sig = path + ".src", _corpus_sig(sf_dir)
    if read_marker(marker) != sig:
        if os.path.exists(marker):
            os.remove(marker)
        write(path)
        with open(marker, "w") as f:
            f.write(sig)
    return path


@query("scan_parquet", oracle="SELECT * FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar file scan (#6): the base access path for every query."""
    return tbl(spark, sf_dir, "region")


# Nation is all-int/string — CSV round-trips exactly (no float formatting
# hazards), which is what makes this oracle-checkable.
_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@query("scan_csv", oracle="SELECT * FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed delimited-text scan (#7) — the reference's `mdb-export` CSV mode.

    Writes nation to CSV once per sf, then reads it back with an explicit
    StructType (extracted-schema discipline, never inference-on-read).
    """
    path = _artifact(
        sf_dir,
        "nation_csv",
        lambda p: tbl(spark, sf_dir, "nation")
        .write.mode("overwrite")
        .option("header", True)
        .csv(p),
    )
    return spark.read.csv(path, schema=_NATION_SCHEMA, header=True)


@query("scan_json", oracle="SELECT * FROM supplier")
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited JSON scan (#7b): the interchange format every
    LLM-data pipeline ingests (web dumps, API exports). Round-trip: write
    supplier to JSONL once per sf, read it back with the source's explicit
    StructType (never inference-on-read). Doubles survive exactly —
    Spark's JSON writer emits shortest-round-trip representations."""
    src = tbl(spark, sf_dir, "supplier")
    path = _artifact(sf_dir, "supplier_json", lambda p: src.write.mode("overwrite").json(p))
    return spark.read.json(path, schema=src.schema)


@query("scan_orc", oracle="SELECT * FROM part")
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar scan (#7c): the second columnar format Spark ships a
    vectorized reader for (Hive-ecosystem interchange). Binary-exact
    round-trip: write part to ORC once per sf, read it back."""
    src = tbl(spark, sf_dir, "part")
    path = _artifact(sf_dir, "part_orc", lambda p: src.write.mode("overwrite").orc(p))
    return spark.read.orc(path)


@query("full_table_copy", oracle="SELECT * FROM customer")
def full_table_copy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed 1:1 copy (#4), the reference's flagship op: scan -> columnar
    sink -> scan of the sink must be indistinguishable from the source."""
    path = _artifact(
        sf_dir,
        "customer_copy",
        lambda p: tbl(spark, sf_dir, "customer").write.mode("overwrite").parquet(p),
    )
    return spark.read.parquet(path)


@query("sink_parquet", oracle="SELECT * FROM orders")
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned columnar sink (#8). Partitioning by a low-cardinality
    column is the 100 TB layout primitive: downstream filters on the
    partition key prune whole directories."""
    path = _artifact(
        sf_dir,
        "orders_by_priority",
        lambda p: tbl(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(p),
    )
    df = spark.read.parquet(path)
    # Partition columns come back last; restore canonical order (driver
    # sorts columns by name anyway, but keep the schema stable for entry()).
    return df.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                     "o_orderdate", "o_orderpriority")


@query(
    "list_tables",
    # The corpus catalog is fixed (TESTDATA.md: same 10 tables at every
    # sf), so the oracle is a literal — this pins the MSys* filtering and
    # the name set rather than restating a computation.
    oracle="""
    SELECT * FROM (VALUES
      ('customer'), ('documents'), ('embeddings'), ('events'), ('lineitem'),
      ('nation'), ('orders'), ('part'), ('region'), ('supplier')
    ) t(table_name)
    """,
)
def list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enumerate user tables (#2) — the reference's `mdb-tables -1`, which
    filters JET system tables (MSys*). Modeled over the file catalog."""
    names = sorted(
        f[: -len(".parquet")]
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet") and not f.startswith("MSys")
    )
    return spark.createDataFrame([(n,) for n in names], "table_name: string")


@query(
    "extract_schema",
    # Literal oracle: the translated catalog is deterministic (identical
    # schemas at every sf), so the 51 expected (table, column, spark type,
    # postgres type) rows are pinned — a regression in the §1.2 type map
    # (e.g. double no longer mapping to DOUBLE PRECISION) now hash-fails
    # instead of passing a bare row-count check.
    oracle="""
    SELECT * FROM (VALUES
      ('region', 'r_regionkey', 'int', 'INTEGER'),
      ('region', 'r_name', 'string', 'TEXT'),
      ('nation', 'n_nationkey', 'int', 'INTEGER'),
      ('nation', 'n_name', 'string', 'TEXT'),
      ('nation', 'n_regionkey', 'int', 'INTEGER'),
      ('customer', 'c_custkey', 'bigint', 'BIGINT'),
      ('customer', 'c_name', 'string', 'TEXT'),
      ('customer', 'c_nationkey', 'int', 'INTEGER'),
      ('customer', 'c_acctbal', 'double', 'DOUBLE PRECISION'),
      ('customer', 'c_mktsegment', 'string', 'TEXT'),
      ('supplier', 's_suppkey', 'bigint', 'BIGINT'),
      ('supplier', 's_name', 'string', 'TEXT'),
      ('supplier', 's_nationkey', 'int', 'INTEGER'),
      ('supplier', 's_acctbal', 'double', 'DOUBLE PRECISION'),
      ('part', 'p_partkey', 'bigint', 'BIGINT'),
      ('part', 'p_name', 'string', 'TEXT'),
      ('part', 'p_brand', 'string', 'TEXT'),
      ('part', 'p_type', 'string', 'TEXT'),
      ('part', 'p_size', 'int', 'INTEGER'),
      ('part', 'p_retailprice', 'double', 'DOUBLE PRECISION'),
      ('orders', 'o_orderkey', 'bigint', 'BIGINT'),
      ('orders', 'o_custkey', 'bigint', 'BIGINT'),
      ('orders', 'o_orderstatus', 'string', 'TEXT'),
      ('orders', 'o_totalprice', 'double', 'DOUBLE PRECISION'),
      ('orders', 'o_orderdate', 'timestamp_ntz', 'TIMESTAMP'),
      ('orders', 'o_orderpriority', 'string', 'TEXT'),
      ('lineitem', 'l_orderkey', 'bigint', 'BIGINT'),
      ('lineitem', 'l_partkey', 'bigint', 'BIGINT'),
      ('lineitem', 'l_suppkey', 'bigint', 'BIGINT'),
      ('lineitem', 'l_linenumber', 'int', 'INTEGER'),
      ('lineitem', 'l_quantity', 'double', 'DOUBLE PRECISION'),
      ('lineitem', 'l_extendedprice', 'double', 'DOUBLE PRECISION'),
      ('lineitem', 'l_discount', 'double', 'DOUBLE PRECISION'),
      ('lineitem', 'l_tax', 'double', 'DOUBLE PRECISION'),
      ('lineitem', 'l_returnflag', 'string', 'TEXT'),
      ('lineitem', 'l_linestatus', 'string', 'TEXT'),
      ('lineitem', 'l_shipdate', 'timestamp_ntz', 'TIMESTAMP'),
      ('events', 'event_id', 'bigint', 'BIGINT'),
      ('events', 'ts', 'timestamp_ntz', 'TIMESTAMP'),
      ('events', 'user_id', 'bigint', 'BIGINT'),
      ('events', 'event_type', 'string', 'TEXT'),
      ('events', 'value', 'double', 'DOUBLE PRECISION'),
      ('events', 'props', 'string', 'TEXT'),
      ('documents', 'doc_id', 'bigint', 'BIGINT'),
      ('documents', 'text', 'string', 'TEXT'),
      ('documents', 'lang', 'string', 'TEXT'),
      ('documents', 'source', 'string', 'TEXT'),
      ('documents', 'n_chars', 'bigint', 'BIGINT'),
      ('embeddings', 'vec_id', 'bigint', 'BIGINT'),
      ('embeddings', 'embedding', 'array<float>', 'JSONB'),
      ('embeddings', 'label', 'int', 'INTEGER')
    ) t(table_name, column_name, spark_type, postgres_type)
    """,
)
def extract_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema extraction + translation (#3) — the reference's
    `mdb-schema db.mdb postgres`. Emits (column, spark_type, postgres_type)
    for every corpus table, using the §1.2 JET map for blob/text kinds."""
    rows = []
    from ..sources.tables import TABLES

    spark_to_pg = {
        "bigint": "BIGINT",
        "int": "INTEGER",
        "smallint": "SMALLINT",
        "double": "DOUBLE PRECISION",
        "float": "REAL",
        "string": "TEXT",
        "boolean": "BOOLEAN",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "binary": "BYTEA",
        "date": "DATE",
    }
    for t in TABLES:
        for f in tbl(spark, sf_dir, t).schema.fields:
            simple = f.dataType.simpleString()
            pg = spark_to_pg.get(simple)
            if pg is None and simple.startswith("decimal"):
                pg = simple.upper().replace("DECIMAL", "NUMERIC")
            if pg is None and simple.startswith("array"):
                pg = "JSONB"  # Postgres has no native float array short of extensions
            rows.append((t, f.name, simple, pg or "TEXT"))
    return spark.createDataFrame(
        rows, "table_name: string, column_name: string, spark_type: string, postgres_type: string"
    )


@query(
    "etl_incremental_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 0 AS change_seq FROM orders
    ),
    changes AS (
      SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, 1 AS change_seq
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY change_seq DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
    )
    SELECT o_orderkey, o_custkey, o_totalprice, change_seq
    FROM merged WHERE rn = 1
    """,
)
def etl_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-copy as a latest-wins merge (#4 re-run semantics):
    a deterministic synthetic change set (every 10th order repriced +100.00, an exact double op)
    merged into the base copy; changed keys take the change-set row,
    unchanged keys keep the base row. etl.pipeline.merge_upsert."""
    from ..etl.pipeline import merge_upsert
    from pyspark.sql import functions as F2

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    base = o.withColumn("change_seq", F2.lit(0))
    changes = (
        o.filter(F2.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F2.col("o_totalprice") + 100.0)
        .withColumn("change_seq", F2.lit(1))
    )
    return merge_upsert(base, changes, "o_orderkey", "change_seq")


_MANIFEST_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_MANIFEST_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows,"
    f" MIN({k}) AS key_min, MAX({k}) AS key_max,"
    f" CAST(SUM({k}) AS BIGINT) AS key_sum FROM {t}"
    for t, k in _MANIFEST_KEYS.items()
)


@query("etl_copy_manifest", oracle=_MANIFEST_ORACLE)
def etl_copy_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole job as one declarative query: a migration
    validation manifest over every catalog table — row count plus
    min/max/sum of the table's key column, the checks a copy pipeline
    runs source-vs-sink after `full_table_copy` of each table. One
    aggregate job per table unioned into a single result; each per-table
    agg is a partial+final count/min/max/sum, so the manifest over a
    100 TB database costs one scan per table and shuffles ten rows."""
    parts = []
    for t, k in _MANIFEST_KEYS.items():
        parts.append(
            tbl(spark, sf_dir, t).agg(
                F.count("*").alias("n_rows"),
                F.min(k).cast("long").alias("key_min"),
                F.max(k).cast("long").alias("key_max"),
                F.sum(k).cast("long").alias("key_sum"),
            ).select(F.lit(t).alias("table_name"), "n_rows", "key_min", "key_max", "key_sum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "etl_scd2_history",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           o_orderstatus,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           CASE WHEN LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM orders
    WHERE o_custkey < 500
    """,
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: each change record
    gets a [valid_from, valid_to) interval via LEAD over the change stream,
    open-ended (is_current) on the latest. The CDC-merge companion to
    etl_incremental_upsert. One shuffle on the entity key; the window is
    per-entity and never global, so the plan is a single Exchange +
    sort-within-partitions at any scale."""
    from pyspark.sql.window import Window

    o = tbl(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@query(
    "etl_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
    FROM orders
    """,
)
def etl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations (v1 lacks a column
    that v2 added) unified by mergeSchema — the reference's tolerant-load
    posture applied to evolving landing zones. Missing columns surface as
    NULL, never as a read error. At scale mergeSchema's footer sampling is
    the cost knob; explicit unified StructTypes (extracted-schema
    discipline) replace it once the catalog knows the superset."""
    def write(path: str) -> None:
        o = tbl(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(os.path.join(path, "gen=v1"))
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.mode("overwrite").parquet(os.path.join(path, "gen=v2"))

    path = _artifact(sf_dir, "orders_evolving", write)
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(path, "gen=v1"), os.path.join(path, "gen=v2")
    )
    return merged.select("o_orderkey", "o_totalprice", "o_orderstatus")


@query(
    "scan_csv_malformed",
    oracle="""
    SELECT n_nationkey,
           n_name,
           CASE WHEN n_nationkey % 7 = 3 THEN NULL ELSE n_regionkey END AS n_regionkey,
           CASE WHEN n_nationkey % 7 = 3 THEN 1 ELSE 0 END AS is_corrupt
    FROM nation
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant delimited-text load (the reference's forgiving-import
    posture): a CSV with deterministically corrupted numeric fields is
    read in PERMISSIVE mode — the bad field parses to NULL, the rest of
    the row survives, and the raw line is captured in a corrupt-record
    column for quarantine instead of failing the load. DROPMALFORMED /
    FAILFAST are the same reader one option away; at scale quarantined
    raw lines land in a reject sink for replay."""
    def write(path: str) -> None:
        n = tbl(spark, sf_dir, "nation")
        line = F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            "n_name",
            F.when(F.col("n_nationkey") % 7 == 3, F.lit("BAD")).otherwise(
                F.col("n_regionkey").cast("string")
            ),
        )
        n.select(line.alias("value")).write.mode("overwrite").text(path)

    path = _artifact(sf_dir, "nation_malformed_csv", write)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = spark.read.csv(
        path,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    return raw.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0).alias("is_corrupt"),
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@query(
    "scan_profile_columns",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct
    FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def scan_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling (#3 cont.): per-column null and distinct
    counts in ONE scan — the ingest-time quality report every ETL run
    emits. The oracle unions one pass per column (fine for a checker);
    the Spark side unpivots every value to (column_name, value-as-string)
    in a single projection, then one grouped distinct aggregate — a lone
    parquet scan feeds all profiles (plan-asserted), and adding columns
    widens the stack, not the I/O or the aggregate count (the 4-way
    multi-countDistinct alternative grows one distinct branch per
    column). Values profile as strings: distinct
    and null counts are representation-independent for these int/string
    columns."""
    o = tbl(spark, sf_dir, "orders")
    stack_args = ", ".join(f"'{c}', cast({c} as string)" for c in _PROFILE_COLS)
    long = o.select(
        F.expr(f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (column_name, val)")
    )
    return long.groupBy("column_name").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).alias("n_null"),
        F.countDistinct("val").alias("n_distinct"),
    )

@query(
    "etl_partition_overwrite_dynamic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def etl_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (#78 cont.): a restatement batch that
    contains ONLY the '1-URGENT' partition (prices doubled) is written
    with mode=overwrite under
    spark.sql.sources.partitionOverwriteMode=dynamic — Spark replaces
    exactly the partitions present in the batch and leaves the other four
    untouched, which is THE idempotent daily-reload primitive for
    partitioned 100 TB tables (static overwrite would wipe them; append
    would duplicate). The read-back must equal the full table with only
    urgent prices restated — the oracle says exactly that, so a mode
    regression (wiping or duplicating partitions) hash-fails loudly."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]

    # Two writes, one artifact: _artifact marks it complete only after the
    # dynamic overwrite lands, so a crash between base and restatement
    # leaves no half-built cache later runs trust.
    def write(path: str) -> None:
        src = tbl(spark, sf_dir, "orders").select(*cols)
        src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
        restated = src.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(18,2)") * 2).cast("double"),
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            restated.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    path = _artifact(sf_dir, "orders_dyn_overwrite", write)
    return spark.read.parquet(path).select(*cols)


_SANITIZE_CASES = [
    "Order Details", "Customer ID#", "2024 Sales", "  Ship-To Addr  ",
    "TOTAL (USD)", "état", "a__b___c", "___", "Employees/Staff", "Re:Order%Qty",
]


@query(
    "etl_sanitize_identifiers",
    # Pinned like extract_schema: the sanitization convention is a
    # CONTRACT (what a migrated table's columns are named), so the
    # expected outputs are literals — a regression in any rule (case
    # folding, punctuation collapse, leading digit, empty fallback,
    # non-ASCII stripping) hash-fails instead of silently renaming
    # migrated columns.
    oracle="""
    SELECT * FROM (VALUES
      ('Order Details', 'order_details'),
      ('Customer ID#', 'customer_id'),
      ('2024 Sales', 'c_2024_sales'),
      ('  Ship-To Addr  ', 'ship_to_addr'),
      ('TOTAL (USD)', 'total_usd'),
      ('état', 'tat'),
      ('a__b___c', 'a_b_c'),
      ('___', 'col'),
      ('Employees/Staff', 'employees_staff'),
      ('Re:Order%Qty', 're_order_qty')
    ) t(raw_name, sanitized)
    """,
)
def etl_sanitize_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier sanitization (#3 cont., the reference's Access->Postgres
    naming convention): messy JET object names — spaces, punctuation,
    reserved characters, leading digits, non-ASCII, all-punctuation —
    map to safe lowercase SQL identifiers via etl.typemap
    .sanitize_identifier. Catalog metadata, so rows are built
    driver-side like list_tables; the oracle pins every rule's expected
    output as literals."""
    from ..etl.typemap import sanitize_identifier

    rows = [(c, sanitize_identifier(c)) for c in _SANITIZE_CASES]
    return spark.createDataFrame(rows, "raw_name: string, sanitized: string")


@query(
    "scan_json_malformed",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 7 = 3 THEN NULL ELSE n_name END AS n_name,
           CASE WHEN n_nationkey % 7 = 3 THEN 1 ELSE 0 END AS quarantined
    FROM nation
    """,
)
def scan_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant JSON load (#7b cont., the JSONL twin of
    scan_csv_malformed): every 7th record is written with truncated,
    unparseable JSON; PERMISSIVE mode yields NULL fields for those rows
    and captures the raw text in _corrupt_record — the quarantine column
    — instead of failing the feed. The result reports each record's
    parsed key, surviving fields, and quarantine flag; at scale the
    flagged raw lines land in a reject sink for replay after the
    producer is fixed. (The key survives for corrupted rows here because
    the corruption injector preserves the prefix — the realistic
    truncated-write failure mode.)"""
    def write(path: str) -> None:
        n = tbl(spark, sf_dir, "nation")
        line = F.when(
            F.col("n_nationkey") % 7 == 3,
            # truncated mid-record: the classic crashed-producer artifact
            F.concat(F.lit('{"n_nationkey": '), F.col("n_nationkey").cast("string"), F.lit(', "n_na')),
        ).otherwise(
            F.concat(
                F.lit('{"n_nationkey": '),
                F.col("n_nationkey").cast("string"),
                F.lit(', "n_name": "'),
                F.col("n_name"),
                F.lit('"}'),
            )
        )
        n.select(line.alias("value")).write.mode("overwrite").text(path)

    path = _artifact(sf_dir, "nation_malformed_json", write)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
    return raw.select(
        F.coalesce(
            "n_nationkey",
            F.regexp_extract("_corrupt_record", r'"n_nationkey": (\d+)', 1).cast("int"),
        ).alias("n_nationkey"),
        "n_name",
        F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0).alias("quarantined"),
    )


@query(
    "etl_pseudonymize_keys",
    oracle="""
    WITH pe AS (
      SELECT 'u_' || substr(md5('pszn1:' || CAST(user_id AS VARCHAR)), 1, 12) AS utoken,
             event_type, CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    )
    SELECT utoken,
           COUNT(*) AS event_cnt,
           COUNT(DISTINCT event_type) AS type_cnt,
           CAST(SUM(v) AS DOUBLE) AS value_sum
    FROM pe GROUP BY utoken
    """,
)
def etl_pseudonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization (#12 cont., the governance step between
    raw keys and shareable analytics): user ids are replaced by salted-
    hash surrogate tokens — same id always maps to the same token, so
    grouping, joining and longitudinal analysis still work across
    independently pseudonymized tables, while the raw key never leaves
    the trust boundary (reversal requires the salt + a brute-forceable
    id space, which is why production uses a keyed HMAC or a vaulted
    mapping table — this shape is the plumbing either plugs into). The
    whole per-user analysis here runs entirely in token space and
    hash-checks cross-engine."""
    ev = tbl(spark, sf_dir, "events")
    token = F.concat(
        F.lit("u_"),
        F.substring(F.md5(F.concat(F.lit("pszn1:"), F.col("user_id").cast("string"))), 1, 12),
    )
    return (
        ev.select(
            token.alias("utoken"),
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("utoken")
        .agg(
            F.count("*").alias("event_cnt"),
            F.countDistinct("event_type").alias("type_cnt"),
            F.sum("v").cast("double").alias("value_sum"),
        )
    )


@query(
    "etl_dq_audit",
    oracle="""
    SELECT 'orders_pk_unique' AS rule,
           COUNT(*) AS checked,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS failed,
           COUNT(*) = COUNT(DISTINCT o_orderkey) AS ok
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain',
           COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_range',
           COUNT(*),
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT COUNT(*) FROM lineitem),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) = 0
    UNION ALL
    SELECT 'customer_nationkey_nonnull',
           COUNT(*),
           CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM customer
    """,
)
def etl_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (#78 cont.): the expectation-suite
    primitive (uniqueness, domain, range, referential integrity, null
    contract) evaluated in ONE report — what a pipeline runs before
    publishing a load, failing the batch on any rule with failed > 0.

    Each table contributes one scan with its rules fused as parallel
    conditional aggregates (never one scan per rule); the FK rule is a
    left-anti join keyed like every other orders~lineitem join. All rule
    results are single rows, so the union is driver-free metadata — at
    100 TB the cost is exactly one pass over each audited table plus one
    join, and the report shape (rows = #rules) never grows."""
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    c = tbl(spark, sf_dir, "customer")

    def report(agg: DataFrame, rules: list[tuple[str, str, str]]) -> DataFrame:
        pairs = ", ".join(f"'{r}', {chk}, {fl}" for r, chk, fl in rules)
        return agg.selectExpr(
            f"stack({len(rules)}, {pairs}) AS (rule, checked, failed)"
        ).select("rule", "checked", "failed", (F.col("failed") == 0).alias("ok"))

    o_agg = o.agg(
        F.count("*").alias("cnt"),
        F.countDistinct("o_orderkey").alias("pk_cnt"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).cast("bigint").alias("bad_status"),
    )
    o_rules = report(
        o_agg,
        [
            ("orders_pk_unique", "cnt", "cast(cnt - pk_cnt as bigint)"),
            ("orders_status_domain", "cnt", "bad_status"),
        ],
    )
    # Round 12 (guide §2.4): the FK rule's "checked" count used to re-scan
    # lineitem a third time (li.agg(count)); the single-row li_agg is now
    # localCheckpointed and its cnt rides the crossJoin instead — one full
    # lineitem pass saved per call (3 -> 2 scans; the remaining two are
    # the rule aggregate and the anti join, each irreducible).
    li_agg = li.agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).cast("bigint").alias("bad_qty"),
    ).localCheckpoint()
    li_rules = report(li_agg, [("lineitem_qty_range", "cnt", "bad_qty")])
    fk_agg = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").cast("bigint").alias("orphans"))
        .crossJoin(F.broadcast(li_agg.select("cnt")))
    )
    fk_rules = report(fk_agg, [("lineitem_fk_orders", "cnt", "orphans")])
    c_agg = c.agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("c_nationkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("bad_null"),
    )
    c_rules = report(c_agg, [("customer_nationkey_nonnull", "cnt", "bad_null")])
    return o_rules.unionByName(li_rules).unionByName(fk_rules).unionByName(c_rules)


@query(
    "scan_text",
    oracle="""
    SELECT md5(text) AS line_h, COUNT(*) AS cnt
    FROM documents GROUP BY md5(text)
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text-line scan (#7 cont.): spark.read.text — the raw
    corpus access path (one row per line, a single `value` column) that
    every web-dump ingestion starts from, completing the source-format
    matrix (parquet/csv/json/orc/text/binaryFile/jdbc).

    Round-trip: the documents text column is written as plain .txt part
    files once per sf, read back line-wise, and compared content-wise
    (md5 per line, grouped) since line order is partition-dependent on
    both sides of a text file by design. Reading is split-parallel: text
    files split on line boundaries at maxPartitionBytes, so ingest
    parallelism tracks corpus bytes exactly as at 100 TB."""
    d = tbl(spark, sf_dir, "documents")
    path = _artifact(
        sf_dir, "documents_text", lambda p: d.select("text").write.mode("overwrite").text(p)
    )
    return (
        spark.read.text(path)
        .groupBy(F.md5("value").alias("line_h"))
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "etl_incremental_agg_maintenance",
    oracle="""
    WITH base AS (
      SELECT l_returnflag, COUNT(*) AS cnt,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem WHERE l_shipdate < DATE '1997-01-01'
      GROUP BY l_returnflag
    ),
    delta AS (
      SELECT l_returnflag, COUNT(*) AS cnt,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
      GROUP BY l_returnflag
    ),
    maintained AS (
      SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS cnt,
             CAST(SUM(qty) AS DOUBLE) AS qty
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY l_returnflag
    ),
    full_recompute AS (
      SELECT l_returnflag, COUNT(*) AS cnt,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT m.l_returnflag,
           m.cnt AS maintained_cnt, f.cnt AS full_cnt,
           m.qty AS maintained_qty, f.qty AS full_qty,
           m.qty / m.cnt AS maintained_avg,
           m.cnt = f.cnt AND m.qty = f.qty AS matches
    FROM maintained m JOIN full_recompute f USING (l_returnflag)
    """,
)
def etl_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (#78 cont.): a
    grouped summary kept current by MERGING the arriving batch's partial
    aggregates into the stored ones (SUM-of-SUMs, SUM-of-COUNTs; AVG
    derived at read time) instead of re-scanning history — the pattern
    that makes a 100 TB daily rollup cost O(delta), with the full
    recompute run alongside and an equality column PROVING the merge is
    lossless (exact DECIMAL partials: float partials would drift here).

    Algebraic aggregates (sum/count/min/max) maintain this way;
    non-algebraic ones (exact distinct, median) need their mergeable
    sketch counterparts (HLL, KLL — see agg_approx_distinct and the CMS
    heavy-hitters) — that is exactly why sketches exist at scale. In
    production base/delta are partitions of the same table, so the
    'merge' reads yesterday's tiny summary + today's partition, never
    history."""
    li = tbl(spark, sf_dir, "lineitem")
    cut = F.lit("1997-01-01").cast("date")
    dec = F.col("l_quantity").cast("decimal(18,2)")

    def partial(df):
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("cnt"), F.sum(dec).alias("qty")
        )

    base = partial(li.filter(F.col("l_shipdate") < cut))
    delta = partial(li.filter(F.col("l_shipdate") >= cut))
    maintained = (
        base.unionByName(delta)
        .groupBy("l_returnflag")
        .agg(
            F.sum("cnt").cast("bigint").alias("m_cnt"),
            F.sum("qty").cast("double").alias("m_qty"),
        )
    )
    full = li.groupBy("l_returnflag").agg(
        F.count("*").alias("f_cnt"), F.sum(dec).cast("double").alias("f_qty")
    )
    return maintained.join(full, "l_returnflag").select(
        "l_returnflag",
        F.col("m_cnt").alias("maintained_cnt"),
        F.col("f_cnt").alias("full_cnt"),
        F.col("m_qty").alias("maintained_qty"),
        F.col("f_qty").alias("full_qty"),
        (F.col("m_qty") / F.col("m_cnt")).alias("maintained_avg"),
        ((F.col("m_cnt") == F.col("f_cnt")) & (F.col("m_qty") == F.col("f_qty"))).alias(
            "matches"
        ),
    )


# The distinct user keys feed the global-order substrate; a per-call
# localCheckpoint would defeat its build memo.
@substrate("scans.star_userkeys")
def _star_user_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "events").select("user_id").distinct().localCheckpoint()


@query(
    "etl_build_star_schema",
    oracle="""
    WITH dim_user AS (
      SELECT user_id, DENSE_RANK() OVER (ORDER BY user_id) AS user_sk
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    dim_type AS (
      SELECT event_type, DENSE_RANK() OVER (ORDER BY event_type) AS type_sk
      FROM (SELECT DISTINCT event_type FROM events)
    ),
    fact AS (
      SELECT e.event_id, du.user_sk, dt.type_sk,
             CAST(e.value AS DECIMAL(18,2)) AS v
      FROM events e
      JOIN dim_user du ON e.user_id = du.user_id
      JOIN dim_type dt ON e.event_type = dt.event_type
    )
    SELECT f.type_sk, dt.event_type,
           COUNT(*) AS fact_rows,
           COUNT(DISTINCT f.user_sk) AS distinct_users,
           CAST(SUM(f.v) AS DOUBLE) AS value_sum,
           (SELECT COUNT(*) FROM dim_user) AS dim_user_rows
    FROM fact f JOIN dim_type dt ON f.type_sk = dt.type_sk
    GROUP BY f.type_sk, dt.event_type
    """,
)
def etl_build_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensional (star-schema) load (#78 cont.): mint surrogate keys
    for each natural key via DENSE_RANK over the distinct key set, swap
    the fact's natural keys for surrogates through dimension joins, and
    publish the per-dimension rollup that a BI layer reads — the
    warehouse-modeling step between raw events and reporting.

    Rank over a sorted distinct-key set is the deterministic surrogate
    generator (same key -> same sk on every engine and every rerun —
    monotonically_increasing_id would be neither); at 100 TB the rank
    runs over DISTINCT keys only (users, not events) and incremental
    loads extend it with max(sk) + rank over the new keys. The
    entity-sized user dimension ranks through the clustered global-order
    substrate over a checkpointed distinct-key set (one events scan, no
    single-partition window over millions of users; dense_rank ==
    row_number on distinct keys); the type dimension is definitionally
    tiny (a handful of event types) and keeps the plain window.
    Dimension joins broadcast (dims are small by construction); the fact
    never shuffles except for the final rollup."""
    from pyspark.sql.window import Window

    from ..functions.global_order import global_row_number

    ev = tbl(spark, sf_dir, "events")
    user_keys = _star_user_keys(spark, sf_dir)
    dim_user = global_row_number(user_keys, [("user_id", "asc")], "user_sk")
    dim_type = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_sk", F.dense_rank().over(Window.orderBy("event_type")))
    )
    # Round 12 (guide §2.2): carry event_type through the fact instead of
    # re-joining dim_type to recover it — the second broadcast join
    # re-computed the whole distinct+window dim subtree. One fewer
    # events-distinct pass; bit-equal at sf0.01/sf0.1.
    fact = (
        ev.join(F.broadcast(dim_user), "user_id")
        .join(F.broadcast(dim_type), "event_type")
        .select(
            "event_id", "user_sk", "type_sk", "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    n_users = user_keys.agg(F.count("*").alias("dim_user_rows"))
    return (
        fact.groupBy("type_sk", "event_type")
        .agg(
            F.count("*").alias("fact_rows"),
            F.countDistinct("user_sk").alias("distinct_users"),
            F.sum("v").cast("double").alias("value_sum"),
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_sk", "event_type", "fact_rows", "distinct_users",
            "value_sum", "dim_user_rows",
        )
    )


@query(
    "etl_impute_missing",
    oracle="""
    WITH masked AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 17 = 0 THEN NULL
                  ELSE CAST(value AS DECIMAL(18,2)) END AS v
      FROM events
    ),
    med AS (
      SELECT event_type, v AS fill_value FROM (
        SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM masked WHERE v IS NOT NULL
      ) WHERE rn = (n + 1) // 2
    )
    SELECT m.event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN m.v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
           CAST(d.fill_value AS DOUBLE) AS fill_value,
           CAST(SUM(COALESCE(m.v, CAST(d.fill_value AS DECIMAL(18,2)))) AS DOUBLE)
             AS value_sum_after
    FROM masked m JOIN med d ON m.event_type = d.event_type
    GROUP BY m.event_type, d.fill_value
    """,
)
def etl_impute_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation (#12 cont.): NULLs (simulated here as a
    deterministic 1-in-17 mask) filled with their group's median — the
    data-repair step between null_normalize (which CREATES the NULLs
    from sentinels) and any numeric modeling, reported with per-group
    imputation counts and a post-fill checksum so the repair itself is
    hash-audited, not just performed.

    The fill is the group's lower (discrete) median — an actual
    observed value picked by an explicit rank formula, exact in DECIMAL
    on both engines (interpolating medians disagree cross-engine over
    DECIMAL inputs; see the code comment) — broadcast back, one
    COALESCE per row: the same broadcast-moments shape as the
    outlier screens, two scans total, group-scalar shuffles only. At
    100 TB the fill table is the persisted 'imputation model' scoring
    any later batch."""
    ev = tbl(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 17 == 0, F.lit(None))
        .otherwise(F.col("value").cast("decimal(18,2)"))
        .alias("v"),
    )
    from pyspark.sql.window import Window

    # Lower (discrete) median via an explicit rank formula, NOT the
    # engines' median(): over DECIMAL inputs Spark's percentile
    # interpolates in double while DuckDB's median stays in the decimal
    # domain — a 0.005 disagreement on even-count groups. The rank-picked
    # value is an ACTUAL observation, exact in DECIMAL on both engines.
    wv = Window.partitionBy("event_type").orderBy("v", "event_id")
    wn = Window.partitionBy("event_type")
    med = (
        masked.filter(F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(wv))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("v").alias("fill_value"))
    )
    return (
        masked.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "fill_value")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_imputed"),
            F.sum(
                F.coalesce(F.col("v"), F.col("fill_value").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("value_sum_after"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_imputed",
            # double for the report column (2-decimal values are exact in
            # double; Decimal objects trip strict pandas comparators)
            F.col("fill_value").cast("double").alias("fill_value"),
            "value_sum_after",
        )
    )


@query(
    "etl_date_spine",
    oracle="""
    WITH spine AS (
      SELECT CAST(UNNEST(generate_series(DATE '1998-01-01', DATE '1998-03-31',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    ),
    daily AS (
      SELECT l_shipdate AS day, COUNT(*) AS shipments,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem
      WHERE l_shipdate BETWEEN DATE '1998-01-01' AND DATE '1998-03-31'
      GROUP BY l_shipdate
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           COALESCE(d.shipments, 0) AS shipments,
           CAST(COALESCE(d.qty, 0) AS DOUBLE) AS qty,
           d.shipments IS NULL AS is_gap
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def etl_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine generation + zero-fill (#93 cont.): a complete
    daily axis generated from NOTHING (sequence of dates), left-joined
    to the fact rollup so absent days appear as explicit zero rows with
    a gap flag — the date-dimension build that every time-series
    report/forecast needs BEFORE any window arithmetic (win_gap_fill
    resamples an existing axis; this manufactures the axis itself, and
    is how sparse 100 TB facts become dense bounded series).

    The spine is a generator expression (sequence + explode — 90 rows
    here, never corpus-sized), broadcast against the pre-aggregated
    daily rollup; the fact is touched once with the date predicate
    pushed to the scan."""
    li = tbl(spark, sf_dir, "lineitem")
    lo, hi = F.lit("1998-01-01").cast("date"), F.lit("1998-03-31").cast("date")
    spine = spark.range(1).select(
        F.explode(F.expr("sequence(DATE'1998-01-01', DATE'1998-03-31', interval 1 day)")).alias(
            "day"
        )
    )
    daily = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi))
        .groupBy(F.col("l_shipdate").alias("day"))
        .agg(
            F.count("*").alias("shipments"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
        )
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            # ISO string axis: DuckDB's generate_series dates surface as
            # timestamps in pandas while Spark DATEs stay dates — a
            # dtype-normalization trap for strict comparators; a string
            # axis is unambiguous on every consumer
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("shipments"), F.lit(0)).alias("shipments"),
            F.coalesce(F.col("qty"), F.lit(0)).cast("double").alias("qty"),
            F.col("shipments").isNull().alias("is_gap"),
        )
    )


_COMPACT_TARGET = 2000  # target output object size (bytes of text)


@query(
    "etl_compact_small_files",
    oracle=f"""
    WITH inv AS (
      SELECT source AS part, doc_id AS file_id, n_chars AS bytes
      FROM documents
    ),
    pref AS (
      SELECT part, file_id, bytes,
             CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS BIGINT) AS bytes_before
      FROM inv
    ),
    planned AS (
      SELECT part, file_id, bytes,
             CAST(bytes_before // {_COMPACT_TARGET} AS BIGINT) AS target_file
      FROM pref
    )
    SELECT part, target_file,
           COUNT(*) AS n_source_files,
           CAST(SUM(bytes) AS BIGINT) AS out_bytes,
           MIN(file_id) AS first_file_id,
           MAX(file_id) AS last_file_id
    FROM planned GROUP BY part, target_file
    """,
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: given a file inventory (here each
    document stands in for one landing-zone object with its byte size),
    assign source files to target output files by sequential bin-packing
    — prefix-sum of sizes within a partition, bucket = cumsum // target —
    and report each planned output file's composition. This is the plan a
    compaction job executes with a per-bucket repartition + write (the
    write path itself is etl_partition_overwrite_dynamic's surface); at
    100 TB the planner is one window pass over the file METADATA (millions
    of rows, not the data), which is why compaction planning is cheap even
    when compaction isn't.

    The prefix-sum formulation keeps arrival order, so compacted files
    preserve ingestion locality (time-adjacent records stay together —
    the property that keeps downstream time-range scans pruned)."""
    from pyspark.sql.window import Window

    inv = tbl(spark, sf_dir, "documents").select(
        F.col("source").alias("part"),
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("bytes"),
    )
    w = (
        Window.partitionBy("part")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = inv.select(
        "part",
        "file_id",
        "bytes",
        F.coalesce(F.sum("bytes").over(w), F.lit(0)).cast("bigint").alias("bytes_before"),
    ).select(
        "part",
        "file_id",
        "bytes",
        # exact integer floor-div (`div`), NOT double `/` + cast: cumulative
        # bytes past 2^53 would lose precision in a double at 100 TB scale
        F.expr(f"bytes_before div {_COMPACT_TARGET}").alias("target_file"),
    )
    return planned.groupBy("part", "target_file").agg(
        F.count("*").alias("n_source_files"),
        F.sum("bytes").cast("bigint").alias("out_bytes"),
        F.min("file_id").alias("first_file_id"),
        F.max("file_id").alias("last_file_id"),
    )


_EXPORT_SHARDS = 8


@query(
    "etl_export_jsonl",
    oracle=f"""
    WITH rec AS (
      SELECT doc_id % {_EXPORT_SHARDS} AS shard, doc_id, n_chars,
             ('0x' || substr(md5(text), 1, 7))::BIGINT AS text_sig
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(text_sig) % 2147483647 AS BIGINT) AS checksum,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM rec GROUP BY shard
    """,
)
def etl_export_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data handoff export: write the corpus as sharded JSONL
    (the format tokenizer/training jobs consume) and return the shard
    MANIFEST — doc counts, payload mass, an order-independent content
    checksum (sum of 28-bit md5 prefixes mod 2^31-1: commutative, so any
    partition/merge order yields the same value, and the running sum
    stays far below BIGINT overflow — Spark wraps silently under
    non-ANSI where DuckDB widens to HUGEINT, so the modulus must bound
    the SUM, not just the result), and the doc-id range
    per shard. A consumer validates its download against exactly this
    table; the checksum catches silent truncation/corruption without
    re-reading the source.

    The JSONL itself is really written (once per sf, partitioned by
    shard, _SUCCESS-gated); the manifest derives from the DATA, not the
    serialized bytes, so it is engine-portable and oracle-checked. At
    100 TB the write is the job; the manifest adds one mergeable
    aggregation over columns the export pass already holds."""
    d = tbl(spark, sf_dir, "documents")
    shard = (F.col("doc_id") % _EXPORT_SHARDS).alias("shard")
    _artifact(
        sf_dir,
        "export_jsonl",
        lambda p: d.select(
            shard, F.to_json(F.struct("doc_id", "lang", "source", "text")).alias("line")
        )
        .repartition(_EXPORT_SHARDS, "shard")
        .write.partitionBy("shard")
        .mode("overwrite")
        .text(p),
    )
    rec = d.select(
        shard,
        "doc_id",
        "n_chars",
        F.conv(F.substring(F.md5("text"), 1, 7), 16, 10).cast("bigint").alias("text_sig"),
    )
    return rec.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("text_sig") % F.lit(2147483647)).cast("bigint").alias("checksum"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query("scan_xml", oracle="SELECT * FROM nation")
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (#7d) via Spark 4's built-in XML source (spark-xml merged
    into core in 4.0): write nation as element-per-row XML once per sf,
    read it back with the source's explicit schema (extracted-schema
    discipline — inference-on-read is how XML ingests silently widen
    ints to strings). Nation is the all-int/string table, so the
    round-trip is textually exact; the rowTag is the one mandatory
    option (XML has no default record framing)."""
    src = tbl(spark, sf_dir, "nation")
    path = _artifact(
        sf_dir,
        "nation_xml",
        lambda p: src.write.mode("overwrite").format("xml").option("rowTag", "row").save(p),
    )
    return spark.read.format("xml").option("rowTag", "row").schema(src.schema).load(path)


# Row-lineage checksum modulus: 10 hex chars = 40 bits per row, so even
# 10^6 rows sum below 2^60 — Spark's non-ANSI BIGINT SUM wraps silently
# where DuckDB widens to HUGEINT, so the modulus must make overflow
# impossible, not just unlikely.
_LINEAGE_BUCKET = 2048


@query(
    "etl_row_lineage",
    oracle=f"""
    WITH src AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS gri,
             o_orderkey
      FROM orders
    )
    SELECT CAST(gri // {_LINEAGE_BUCKET} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(gri) AS BIGINT) AS min_ri,
           CAST(MAX(gri) AS BIGINT) AS max_ri,
           CAST(SUM(('0x' || substr(md5('orders#' || CAST(gri AS VARCHAR)),
                                    1, 10))::BIGINT) AS BIGINT) AS lineage_ck,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM src
    GROUP BY gri // {_LINEAGE_BUCKET}
    """,
)
def etl_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level lineage manifest (#78 cont.): every ingested row gets a
    provenance identity md5(table # global-position) where the global
    position is derived, shuffle-free per row, from Spark's zero-cost
    `_metadata` columns: in-file row_index plus the cumulative row count
    of lexically-earlier part files (no monotonically_increasing_id
    nondeterminism — file order + in-file offset IS a stable identity a
    100 TB ingest re-derives bit-identically on every re-read). The
    manifest rolls the corpus into 2048-row position buckets: counts,
    position ranges, an order-independent additive lineage checksum, and
    a content checksum — the audit table an incremental loader diffs to
    prove 'same rows, same places' after a re-ingest.

    Keying lineage on GLOBAL position (not the round-10 (file, offset)
    pair) buys two properties: the manifest is stable under
    order-preserving compaction/splitting of part files (recompacting
    small files no longer invalidates the audit trail), and it is
    oracle-expressible at ANY layout — the round-10 form was the one §2
    row whose sf1 multi-part census could not be machine-checked
    (VERDICT r10 "What's wrong" #2). The DuckDB oracle re-derives the
    position from the write order's sort key (every layout of
    orders.parquet — single file and the copy-NN replica parts in
    lexical file order — is globally sorted by o_orderkey; verified
    identical to the metadata-derived position at every sf), so two
    engines agree on lineage from independent derivations.

    Scale shape: the per-file offset table is metadata-sized (one row
    per part file); its cumulative sum runs as a single-partition window
    over that tiny table (same two-phase pattern as
    functions/global_order.py boundary offsets) and rejoins the row
    stream via broadcast — the full-data path stays one map-side
    projection + the final bucket aggregation."""
    from pyspark.sql.window import Window

    src = tbl(spark, sf_dir, "orders").select(
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").cast("bigint").alias("ri"),
        "o_orderkey",
    )
    counts = src.groupBy("file_name").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("file_name").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "file_name",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint").alias("offset"),
    )
    g = src.join(F.broadcast(offsets), "file_name").withColumn(
        "gri", F.col("offset") + F.col("ri")
    )
    lin = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.lit("orders"), F.col("gri").cast("string"))),
            1,
            10,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        g.select(
            F.floor(F.col("gri") / _LINEAGE_BUCKET).cast("bigint").alias("bucket"),
            "gri",
            lin.alias("lin"),
            "o_orderkey",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("gri").cast("bigint").alias("min_ri"),
            F.max("gri").cast("bigint").alias("max_ri"),
            F.sum("lin").cast("bigint").alias("lineage_ck"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
    )
