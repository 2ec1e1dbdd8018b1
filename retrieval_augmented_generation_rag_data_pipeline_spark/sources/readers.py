"""Sources (SURVEY.md §2.1).

The reference's hand-rolled S3 listing/pagination/download
(reference src/aws_bucket.py:101-191) collapses into Spark's binaryFile
source: the file index parallelizes listing, `pathGlobFilter` pushes the
suffix predicate into the listing (F1), and the `content` column replaces
the download step (S2). Against a real bucket the same code takes an
`s3a://` URI — locality, retries, and credential wiring live in the
Hadoop S3A layer, set through the `spark.hadoop.fs.s3a.*` keys of the
deployment's Spark config, not here. One `scan_catalog` call with a
brace glob (`{*.webm,*.mp3}`) lists a multi-extension inventory once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The fixed table contract of the driver's testdata (identical at every
# scale factor — the generator is deterministic). Passing the schema
# explicitly skips the per-construction parquet footer read + schema
# inference: measured 0.12-0.17 s vs 0.03 s per spark.read at bench
# scale, and the bench constructs every query fresh each run (round 16,
# guide §1 — the cost is inside the timed region 64 queries x 3 sweeps
# deep). Unknown table names fall back to inference; drift between
# these DDLs and the files fails tests/test_sources.py loudly.
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT,r_name STRING",
    "nation": "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer": "c_custkey BIGINT,c_name STRING,c_nationkey INT,c_acctbal DOUBLE,c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part": "p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING,p_size INT,p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT,l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE,l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,l_linestatus STRING,l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT,ts TIMESTAMP_NTZ,user_id BIGINT,event_type STRING,value DOUBLE,props STRING",
    "documents": "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings": "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table from a driver testdata scale dir."""
    if name == "events":
        return load_events(spark, sf_dir)
    ddl = SCHEMAS.get(name)
    if ddl is None:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return spark.read.schema(ddl).parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-robust loader for the TIMESTAMP(NANOS) `ts` column in
    events.parquet (Spark has no nanosecond timestamp type).

    - Spark <= 4.0 honors ``spark.sql.legacy.parquet.nanosAsLong``: the
      column surfaces as raw int64 nanos, which we truncate to micros.
    - Spark 4.1+ ignores that legacy conf and reads nanos natively as
      TIMESTAMP_NTZ, already micro-truncated; casting to TIMESTAMP under
      the UTC session timezone yields the identical instants.

    Both paths produce the same micros values DuckDB surfaces for the
    same file (oracle parity), with a stable TIMESTAMP (ltz) schema.

    On 4.1+ the native NTZ schema is known up front, so it is passed
    explicitly — skipping the footer/schema-inference read like
    ``load_table`` (round 16); the legacy-conf dance below only runs
    on older runtimes where the surfaced type is conf-dependent.
    """
    version = tuple(int(x) for x in spark.version.split(".")[:2])
    if version >= (4, 1):
        df = spark.read.schema(SCHEMAS["events"]).parquet(
            f"{sf_dir}/events.parquet"
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev = spark.conf.get(conf_key, None)
    except Exception:
        prev = None
    try:
        spark.conf.set(conf_key, "true")
        changed = True
    except Exception:
        changed = False  # conf removed — the native-read branch handles it
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # legacy path (Spark <= 4.0): the conf is consulted again at
        # execution, so it must STAY set for this frame's lifetime —
        # the session-wide leak is inherent to the legacy conf design
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # native path (Spark 4.1+ ignores the conf): restore it so later
    # unrelated nanos-parquet reads in the session keep their schema
    if changed:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def scan_catalog(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    with_content: bool = False,
) -> DataFrame:
    """Object-store catalog scan (S1): path/length/modificationTime rows.

    `binaryFile` + pathGlobFilter = the reference's paginated
    list_objects_v2 + suffix filter (src/aws_bucket.py:160-176), with the
    listing parallelized by Spark's InMemoryFileIndex.
    """
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if not with_content:
        df = df.drop("content")
    return df


def scan_text_documents(spark: SparkSession, path: str, glob: str = "*.txt") -> DataFrame:
    """Whole-file text scan (S4, reference src/embedding_engine.py:58-64):
    one row per file -> (source_file, text)."""
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(
            F.input_file_name().alias("source_file"),
            F.col("value").alias("text"),
        )
    )
