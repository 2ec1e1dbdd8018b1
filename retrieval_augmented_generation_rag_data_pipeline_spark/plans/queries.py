"""The driver-facing query registry (SURVEY.md §2 inventory).

Each entry: name -> (spark_builder, duckdb_oracle_sql | None).
spark_builder(spark, sf_dir) returns a DataFrame built from the engine's
operator surface; the oracle SQL is ANSI SQL DuckDB runs over the same
parquet (views pre-registered by the driver).

Parity rules (SURVEY.md §7.4):
- every computed column aliased identically on both sides;
- integer outputs cast to the same width on both sides;
- cross-partition float aggregates rounded to 6 (or 4) decimals on BOTH
  sides; per-row arithmetic is bit-identical by construction (same fold
  order, same doubles) and left unrounded;
- deterministic ORDER BY tie-breaks anywhere ranking/limits matter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import oracle as O
from ..functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE31,
    MINHASH_A,
    MINHASH_B,
    NUM_PERM,
)
from ..operators import (
    bloom,
    dedup,
    joins,
    relational,
    retrieval,
    sampling,
    text,
    vectors,
    windows,
)
from ..sources import ledger, readers
from ..operators.joins import asof_align
from ..operators.windows import merge_islands, tumbling_bucket

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet stores TIMESTAMP(NANOS) — version-robust micros
    # truncation lives in sources.readers.load_events (oracle parity).
    return readers.load_table(spark, sf_dir, name)


# =====================================================================
# §2.2 filters / projections
# =====================================================================

@_q(
    "filter_suffix",
    "SELECT p_partkey, p_type FROM part WHERE lower(p_type) LIKE '%l'",
)
def filter_suffix(spark, sf):
    return relational.filter_suffix(_t(spark, sf, "part"), "p_type", "l").select(
        "p_partkey", "p_type"
    )


@_q(
    "filter_nonempty",
    "SELECT doc_id, n_chars FROM documents WHERE length(trim(text)) > 0",
)
def filter_nonempty(spark, sf):
    return relational.filter_nonempty(_t(spark, sf, "documents"), "text").select(
        "doc_id", "n_chars"
    )


@_q(
    "filter_notnull",
    "SELECT event_id, value FROM events WHERE props IS NOT NULL AND value IS NOT NULL",
)
def filter_notnull(spark, sf):
    ev = relational.filter_notnull(_t(spark, sf, "events"), "props")
    return relational.filter_notnull(ev, "value").select("event_id", "value")


@_q(
    "filter_year",
    "SELECT o_orderkey, o_orderdate FROM orders WHERE year(o_orderdate) = 1996",
)
def filter_year(spark, sf):
    return relational.filter_year(_t(spark, sf, "orders"), "o_orderdate", 1996).select(
        "o_orderkey", "o_orderdate"
    )


@_q(
    "project_arith",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS revenue,
              l_extendedprice / 1048576.0 AS size_mb
       FROM lineitem""",
)
def project_arith(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (F.col("l_extendedprice") / 1048576.0).alias("size_mb"),
    )


@_q(
    "project_derived",
    r"""SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS year,
               CAST(regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS INT) AS prio_num,
               lower(regexp_extract(o_orderpriority, '-(.+)$', 1)) AS prio_word
        FROM orders""",
)
def project_derived(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("year"),
        F.regexp_extract("o_orderpriority", r"^([0-9]+)", 1).cast("int").alias("prio_num"),
        F.lower(F.regexp_extract("o_orderpriority", r"-(.+)$", 1)).alias("prio_word"),
    )


@_q(
    "scan_catalog",
    """SELECT source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
              CAST(n_chars AS BIGINT) AS length
       FROM documents
       WHERE lower(source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt') LIKE '%.txt'""",
)
def scan_catalog(spark, sf):
    # file-inventory analog of the S3 catalog scan (S1) + suffix filter (F1)
    d = _t(spark, sf, "documents").select(
        F.concat(
            F.col("source"), F.lit("/doc_"), F.col("doc_id").cast("string"), F.lit(".txt")
        ).alias("path"),
        F.col("n_chars").cast("long").alias("length"),
    )
    return relational.filter_suffix(d, "path", ".txt")


@_q(
    "scan_documents",
    "SELECT doc_id, source, text FROM documents WHERE length(trim(text)) > 0",
)
def scan_documents(spark, sf):
    return relational.filter_nonempty(_t(spark, sf, "documents"), "text").select(
        "doc_id", "source", "text"
    )


# =====================================================================
# §2.4 aggregations
# =====================================================================

@_q(
    "agg_conditional_count",
    """SELECT CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS processed_count,
              CAST(count(*) FILTER (WHERE NOT coalesce(o_orderstatus = 'F', false)) AS BIGINT) AS failed_count,
              CAST(count(*) AS BIGINT) AS total
       FROM orders""",
)
def agg_conditional_count(spark, sf):
    return relational.agg_conditional_counts(
        _t(spark, sf, "orders"), F.col("o_orderstatus") == "F"
    )


@_q(
    "agg_multi_counter",
    """SELECT CAST(count(*) AS BIGINT) AS total_rows,
              CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_returned,
              CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted
       FROM lineitem""",
)
def agg_multi_counter(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.count("*").alias("total_rows"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )


@_q(
    "agg_by_year",
    """SELECT CAST(year(o_orderdate) AS INT) AS year, CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY 1 ORDER BY year DESC""",
)
def agg_by_year(spark, sf):
    return relational.agg_by_year(_t(spark, sf, "orders"), "o_orderdate")


@_q(
    "agg_histogram",
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n
       FROM part GROUP BY 1 ORDER BY n DESC, p_brand ASC""",
)
def agg_histogram(spark, sf):
    return relational.agg_histogram(_t(spark, sf, "part"), "p_brand")


@_q(
    "agg_mean",
    """SELECT event_type, round(avg(value), 6) AS avg_value
       FROM events GROUP BY 1 ORDER BY event_type""",
)
def agg_mean(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("event_type")
    )


@_q(
    "agg_max",
    """SELECT CAST(max(year(o_orderdate)) AS INT) AS max_year,
              max(o_totalprice) AS max_price,
              max(o_orderdate) AS max_date
       FROM orders""",
)
def agg_max(spark, sf):
    o = _t(spark, sf, "orders")
    return o.agg(
        F.max(F.year("o_orderdate")).alias("max_year"),
        F.max("o_totalprice").alias("max_price"),
        F.max("o_orderdate").alias("max_date"),
    )


@_q(
    "agg_count",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
              CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
       FROM lineitem""",
)
def agg_count(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@_q(
    "agg_concat",
    """SELECT user_id, string_agg(event_type, ' ' ORDER BY event_id) AS text
       FROM events GROUP BY user_id""",
)
def agg_concat(spark, sf):
    return relational.concat_group_texts(
        _t(spark, sf, "events"), ["user_id"], "event_id", "event_type"
    )


@_q(
    "agg_tpch_q1",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 4) AS sum_qty,
              round(sum(l_extendedprice), 4) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
              round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
              round(avg(l_quantity), 6) AS avg_qty,
              round(avg(l_extendedprice), 6) AS avg_price,
              round(avg(l_discount), 6) AS avg_disc,
              CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""",
)
def agg_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "2000-01-01")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc), 4).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q(
    "agg_percentile",
    """SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
              round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
              round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def agg_percentile(spark, sf):
    # exact interpolated percentiles: Spark `percentile` and DuckDB
    # quantile_cont share the linear-interpolation definition. At scale
    # exact percentiles sort per group — swap to approx_percentile
    # (t-digest, no sort) when a tolerance is acceptable.
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias(
                "p99_price"
            ),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "agg_tpch_q6",
    """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
              CAST(count(*) AS BIGINT) AS n
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1994-01-01'
         AND l_shipdate < TIMESTAMP '1995-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def agg_tpch_q6(spark, sf):
    # pure scan-efficiency query: every predicate must reach the parquet
    # reader (PushedFilters) and only 4 columns may be read
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n"),
    )


@_q(
    "top_revenue_orders",
    """SELECT o.o_orderkey, o.o_orderdate,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderkey, o.o_orderdate
       ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",
)
def top_revenue_orders(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    # no broadcast hint on customer: it scales with the fact tables
    # (1.5B rows at SF10k), so AQE must pick broadcast vs shuffle
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q(
    "join_tpch_q5",
    """SELECT n_name,
              round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4)
                AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name ASC""",
)
def join_tpch_q5(spark, sf):
    """TPC-H Q5 (local supplier volume): the canonical SIX-table star
    join with a cross-dimension equality (c_nationkey = s_nationkey)
    that no single join chain can express — the widest relational
    shape in the registry, exercising Catalyst join planning end to
    end.

    Scale shape: the region->nation dim chain collapses to a <=25-row
    broadcast applied TWICE before any fact shuffle — supplier is
    pruned to the ASIA fifth inline, customer is semi-joined down to
    ASIA customers (sound because c_nationkey = s_nationkey forces the
    customer's nation into ASIA too) — so the big joins
    (lineitem><orders on l_orderkey, ><customer on o_custkey,
    ><supplier on the COMPOUND key (l_suppkey, c_nationkey)) all run
    over pre-pruned inputs. The compound condition is a 2-column
    equi-join, never a nested loop. No broadcast hints on the
    SF-scaled tables: at SF10k supplier is ~100M rows, AQE picks the
    strategy per actual size. Final agg shuffles only |nations| cells."""
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = (
        _t(spark, sf, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    c = c.join(
        F.broadcast(n.select("n_nationkey")),
        c.c_nationkey == F.col("n_nationkey"),
        "semi",
    )
    o = (
        _t(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# =====================================================================
# §2.3 joins
# =====================================================================

@_q(
    "join_broadcast",
    """SELECT c.c_custkey, n.n_name, r.r_name
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE c.c_custkey < 100""",
)
def join_broadcast(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") < 100)
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    out = joins.broadcast_lookup(c, n.withColumnRenamed("n_nationkey", "c_nationkey"), "c_nationkey")
    out = joins.broadcast_lookup(out, r.withColumnRenamed("r_regionkey", "n_regionkey"), "n_regionkey")
    return out.select("c_custkey", "n_name", "r_name")


@_q(
    "semi_join",
    """SELECT c_custkey FROM customer c
       WHERE c_mktsegment = 'BUILDING'
         AND EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""",
)
def semi_join(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey")


@_q(
    "anti_join_ledger",
    """SELECT c_custkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def anti_join_ledger(spark, sf):
    """The ingest cycle's own skip step, ``ledger.pending``, with the
    orders' customer keys standing in for the processed ledger."""
    c = _t(spark, sf, "customer")
    done = _t(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    return ledger.pending(c, done, key_col="c_custkey").select("c_custkey")


@_q(
    "join_salted",
    """SELECT o.o_orderkey, c.c_mktsegment
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE o.o_orderstatus = 'O'""",
)
def join_salted(spark, sf):
    # skew-resistant form must emit exactly the plain join's rows — the
    # plain SQL IS the oracle
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey")
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return joins.salted_join(o, c, "c_custkey", salt=8).select(
        "o_orderkey", "c_mktsegment"
    )


@_q(
    "bloom_anti_join",
    """SELECT c.c_custkey, c.c_mktsegment
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'O')""",
)
def bloom_anti_join(spark, sf):
    # Bloom pre-filter + exact anti-join: the plain anti join IS the
    # oracle — the bitmap only trims shuffle volume, never the answer.
    # At 100 TB the build side (every custkey with an open order) is a
    # ledger too big to broadcast as a hash relation but fine as a
    # fixed-size bitmap.
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    open_orders = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return bloom.bloom_anti_join(c, open_orders, "c_custkey")


@_q(
    "join_positional",
    """WITH lc AS (SELECT c_custkey,
                          row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS _rn
                   FROM customer),
            rs AS (SELECT s_suppkey,
                          row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS _rn
                   FROM supplier)
       SELECT CAST(lc._rn AS INT) AS rn, lc.c_custkey, rs.s_suppkey
       FROM lc JOIN rs ON lc._rn = rs._rn""",
)
def join_positional(spark, sf):
    # distributed positional zip: range exchange + per-partition
    # row_number + driver-side prefix offsets — no single-partition
    # global Window/Sort anywhere in the plan (the zipWithIndex trick)
    lc = _t(spark, sf, "customer").select("c_custkey", "c_acctbal")
    rs = _t(spark, sf, "supplier").select("s_suppkey", "s_acctbal")
    out = joins.positional_zip_join(
        lc,
        rs,
        left_order=[F.desc("c_acctbal"), F.asc("c_custkey")],
        right_order=[F.desc("s_acctbal"), F.asc("s_suppkey")],
    )
    return out.select(
        F.col("_rn").cast("int").alias("rn"), "c_custkey", "s_suppkey"
    )


# =====================================================================
# §2.7 set ops / §2.6 sorts & limits
# =====================================================================

@_q(
    "distinct_keys",
    "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def distinct_keys(spark, sf):
    return relational.distinct_keys(
        _t(spark, sf, "customer"), ["c_nationkey", "c_mktsegment"]
    )


@_q(
    "union_globs",
    """SELECT p_partkey, p_type FROM part WHERE lower(p_type) LIKE '%y'
       UNION ALL
       SELECT p_partkey, p_type FROM part WHERE lower(p_type) LIKE '%l'""",
)
def union_globs(spark, sf):
    p = _t(spark, sf, "part")
    a = relational.filter_suffix(p, "p_type", "y").select("p_partkey", "p_type")
    b = relational.filter_suffix(p, "p_type", "l").select("p_partkey", "p_type")
    return relational.union_sources([a, b])


@_q(
    "limit_n",
    "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 4",
)
def limit_n(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy("o_orderkey")
        .limit(4)
        .select("o_orderkey", "o_orderstatus")
    )


@_q(
    "limit_pushdown",
    """SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'
       ORDER BY l_orderkey, l_linenumber LIMIT 2""",
)
def limit_pushdown(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(2)
        .select("l_orderkey", "l_linenumber")
    )


@_q(
    "sort_desc",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
)
def sort_desc(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@_q(
    "topn_per_group",
    """SELECT * FROM (
         SELECT CAST(year(o_orderdate) AS INT) AS year, o_orderkey, o_totalprice,
                CAST(row_number() OVER (PARTITION BY year(o_orderdate)
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
         FROM orders) WHERE rn <= 3""",
)
def topn_per_group(spark, sf):
    o = _t(spark, sf, "orders").select(
        F.year("o_orderdate").alias("year"), "o_orderkey", "o_totalprice"
    )
    return windows.topn_per_group(
        o, ["year"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3
    )


# =====================================================================
# §2.5 windows + §2.3 J2 as-of
# =====================================================================

_CHUNK_TYPES = ("click", "view")
_SEG_TYPES = ("error", "purchase")


def _event_chunks(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("event_type").isin(*_CHUNK_TYPES))
    w = Window.partitionBy("file").orderBy("chunk_id")
    return (
        ev.select(
            F.col("user_id").alias("file"),
            F.col("event_id").alias("chunk_id"),
            F.col("event_type").alias("text"),
            F.col("ts").cast("double").alias("t_end"),
            # confidence in integer basis points (floor(x*1e4+0.5) is
            # bit-identical across engines — no round() algorithm in
            # play), so the group avg sums EXACT integer-valued doubles
            # associatively and both engines produce the same mean
            F.floor(F.col("value") * 100.0 * 100.0 + 0.5).cast("double").alias(
                "confidence"
            ),
        )
        .withColumn("t_start", F.coalesce(F.lag("t_end").over(w), F.lit(0.0)))
    )


def _event_segments(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("event_type").isin(*_SEG_TYPES))
    return ev.select(
        F.col("user_id").alias("file"),
        F.col("event_id").alias("seg_id"),
        F.col("event_type").alias("speaker"),
        F.col("ts").cast("double").alias("spk_end"),
    )


_ASOF_SQL = r"""
WITH c0 AS (
  SELECT user_id AS f, event_id, event_type, epoch(ts) AS te,
         floor(value * 100.0 * 100.0 + 0.5) AS conf
  FROM events WHERE event_type IN ('click','view')
), c AS (
  SELECT f, event_type AS ctext,
         coalesce(lag(te) OVER (PARTITION BY f ORDER BY event_id), 0.0) AS ct0,
         te AS ct1, conf,
         row_number() OVER (PARTITION BY f ORDER BY event_id) - 1 AS k
  FROM c0
), s AS (
  SELECT user_id AS f, event_id AS seg_id, event_type AS speaker, epoch(ts) AS ste,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS j
  FROM events WHERE event_type IN ('error','purchase')
), near AS (
  SELECT s.f AS f, s.j AS j, c.k AS k,
         row_number() OVER (PARTITION BY s.f, s.j
                            ORDER BY abs(c.ct1 - s.ste), c.k) AS rn
  FROM s JOIN c ON s.f = c.f
), g AS (
  SELECT f, j, k AS gk FROM near WHERE rn = 1
), b AS (
  SELECT f, j,
         j + max(gk - j) OVER (PARTITION BY f ORDER BY j ROWS UNBOUNDED PRECEDING) AS hi
  FROM g
), bounds AS (
  SELECT f, j, coalesce(lag(hi) OVER (PARTITION BY f ORDER BY j) + 1, 0) AS lo, hi
  FROM b
), asn AS (
  SELECT s.f AS f, s.seg_id AS seg_id, s.speaker AS speaker,
         c.k AS k, c.ctext AS ctext, c.ct0 AS ct0, c.ct1 AS ct1, c.conf AS conf
  FROM bounds
  JOIN s ON s.f = bounds.f AND s.j = bounds.j
  JOIN c ON c.f = bounds.f AND c.k >= bounds.lo AND c.k <= bounds.hi
)
SELECT f AS user_id, seg_id, speaker,
       string_agg(ctext, ' ' ORDER BY k) AS text,
       round(arg_min(ct0, k), 6) AS t_start,
       round(arg_max(ct1, k), 6) AS t_end,
       floor(avg(conf) * 100.0 + 0.5) / 1000000.0 AS confidence
FROM asn GROUP BY f, seg_id, speaker
"""


@_q("join_asof", _ASOF_SQL)
def join_asof(spark, sf):
    out = asof_align(_event_chunks(spark, sf), _event_segments(spark, sf))
    return out.select(
        F.col("file").alias("user_id"),
        "seg_id",
        "speaker",
        "text",
        F.round("t_start", 6).alias("t_start"),
        F.round("t_end", 6).alias("t_end"),
        # basis-point mean -> 6-decimal confidence via floor(x+0.5):
        # avg over exact integer-valued doubles is engine-identical
        # (associative), and floor is a single IEEE op — unlike
        # round(x, 6), whose exact-BigDecimal vs scaled-multiply
        # algorithms flip decimal-half knife edges (seen at sf1)
        (F.floor(F.col("confidence") * 100.0 + 0.5) / 1e6).alias("confidence"),
    )


_ISLANDS_SQL = r"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch(ts) AS t FROM events
), f AS (
  SELECT *, CASE WHEN row_number() OVER w = 1
                   OR lag(event_type) OVER w IS NOT DISTINCT FROM event_type
                 THEN 0 ELSE 1 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
), i AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS isl,
         last_value(t) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_t
  FROM f
), g AS (
  SELECT user_id, isl, arg_min(t, event_id) AS island_start,
         arg_min(event_type, event_id) AS label,
         min(event_id) AS ord, max(last_t) AS last_t
  FROM i GROUP BY 1, 2
)
SELECT user_id, CAST(row_number() OVER w2 - 1 AS INT) AS island_id, label,
       round(island_start, 6) AS island_start,
       round(coalesce(lead(island_start) OVER w2, last_t), 6) AS island_end
FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY ord)
"""


@_q("sessionize_islands", _ISLANDS_SQL)
def sessionize_islands(spark, sf):
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", "event_type", F.col("ts").cast("double").alias("t")
    )
    out = merge_islands(ev, ["user_id"], "event_id", "event_type", "t", "t")
    return out.select(
        "user_id",
        "island_id",
        "label",
        F.round("island_start", 6).alias("island_start"),
        F.round("island_end", 6).alias("island_end"),
    )


@_q(
    "window_tumbling",
    """SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
              CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""",
)
def window_tumbling(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("bucket", tumbling_bucket(F.col("ts"), 300))
        .groupBy("bucket", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .orderBy("bucket", "event_type")
    )


@_q(
    "window_sliding",
    """WITH e AS (SELECT epoch(ts) AS t, event_type, value FROM events),
       w AS (SELECT unnest(generate_series(
                      CAST(floor(t/300)*300 AS BIGINT) - 300,
                      CAST(floor(t/300)*300 AS BIGINT), 300)) AS wstart,
                    event_type, value
             FROM e)
       SELECT wstart, event_type, CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 6) AS sum_value
       FROM w GROUP BY 1, 2""",
)
def window_sliding(spark, sf):
    ev = windows.sliding_windows(_t(spark, sf, "events"), "ts", 600, 300)
    return ev.groupBy("wstart", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


@_q(
    "window_session",
    """WITH e AS (SELECT user_id, epoch(ts) AS t, value FROM events),
       f AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
                              OR t - lag(t) OVER w > 300 THEN 1 ELSE 0 END AS new_s
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
       g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                                        ROWS UNBOUNDED PRECEDING) AS sid
             FROM f)
       SELECT user_id, round(min(t), 6) AS session_start,
              round(max(t) + 300, 6) AS session_end,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 6) AS sum_value
       FROM g GROUP BY user_id, sid""",
)
def window_session(spark, sf):
    out = windows.session_windows(_t(spark, sf, "events"), ["user_id"], "ts", 300)
    return out.select(
        "user_id",
        F.round("session_start", 6).alias("session_start"),
        F.round("session_end", 6).alias("session_end"),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


@_q(
    "agg_rollup",
    """SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(l_quantity), 4) AS sum_qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def agg_rollup(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@_q(
    "agg_cube",
    """SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(l_extendedprice), 4) AS sum_price
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def agg_cube(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


@_q(
    "argmin_nearest",
    """SELECT user_id, event_id AS nearest_event, round(dist, 6) AS dist
       FROM (SELECT user_id, event_id, abs(value - 50) AS dist,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY abs(value - 50), event_id) AS rn
             FROM events) WHERE rn = 1""",
)
def argmin_nearest(spark, sf):
    # L5 argmin/min-by (reference np.argmin at src/transcription.py:205):
    # ties break to the lowest event_id via the struct ordering.
    ev = _t(spark, sf, "events")
    s = F.struct(
        F.abs(F.col("value") - 50).alias("d"), F.col("event_id").alias("e")
    )
    return ev.groupBy("user_id").agg(
        F.min(s).getField("e").alias("nearest_event"),
        F.round(F.min(s).getField("d"), 6).alias("dist"),
    )


@_q(
    "window_running",
    """SELECT event_id,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                                     ROWS UNBOUNDED PRECEDING), 6) AS running_sum
       FROM events""",
)
def window_running(spark, sf):
    ev = _t(spark, sf, "events")
    out = windows.running_agg(ev, ["user_id"], "event_id", "value", "sum")
    return out.select("event_id", F.round("running_sum", 6).alias("running_sum"))


@_q(
    "window_time_range",
    """SELECT event_id,
              CAST(count(value) OVER w AS BIGINT) AS n_1h,
              round(sum(value) OVER w, 6) AS sum_1h
       FROM events
       WINDOW w AS (PARTITION BY user_id
                    ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
)
def window_time_range(spark, sf):
    """Trailing TIME-RANGE frame (RANGE BETWEEN 3600 PRECEDING): per
    user, the event count and value sum over the trailing hour at every
    event — the rate-in-trailing-window primitive no ROWS frame can
    express (frame size varies per row; ties on the same second share
    one frame, so the result is order-deterministic). Ordering key is
    epoch seconds via cast-long on BOTH engines so frame boundaries are
    bit-identical; the trailing sum folds in engine order, hence the
    6dp round. One user-partitioned window, two-pointer per-partition
    evaluation — the window_running scale shape with a bounded frame
    (operators/windows.py trailing_range_agg)."""
    ev = _t(spark, sf, "events")
    out = windows.trailing_range_agg(ev, ["user_id"], "ts", "value", 3600)
    return out.select(
        "event_id",
        F.col("w_count").alias("n_1h"),
        F.round("w_sum", 6).alias("sum_1h"),
    )


@_q(
    "format_dialogue",
    f"""WITH aligned AS ({_ASOF_SQL})
        SELECT printf('[%.2f-%.2f] %s: %s',
                      floor(t_start * 100.0 + 0.5) / 100.0,
                      floor(t_end * 100.0 + 0.5) / 100.0, speaker, text) AS line
        FROM aligned""",
)
def format_dialogue(spark, sf):
    # pre-round to 2 decimals in engine-stable form: %.2f of a raw
    # double is decided by each engine's own float->decimal algorithm
    # (Java half-up vs printf correctly-rounded), which disagree by one
    # in the last digit for values near x.xx5 (seen at sf1). floor(x*
    # 100+0.5)/100 is pure IEEE arithmetic — bit-identical everywhere —
    # and a double that IS k/100-nearest formats identically in both.
    aligned = join_asof(spark, sf)
    for c in ("t_start", "t_end"):
        aligned = aligned.withColumn(c, F.floor(F.col(c) * 100 + 0.5) / 100)
    return text.format_dialogue(aligned)


# =====================================================================
# §2.8 scalar function families
# =====================================================================

@_q(
    "str_funcs",
    r"""SELECT p_partkey,
               lower(p_type) AS type_lc,
               substr(p_name, 1, 8) AS name8,
               CAST(length(p_name) AS INT) AS name_len,
               concat_ws('-', p_brand, p_type) AS brand_type,
               CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INT) AS brand_num,
               printf('%s:%05d', p_type, p_size) AS padded,
               CASE WHEN lower(p_type) LIKE '%l' THEN TRUE ELSE FALSE END AS ends_l
        FROM part""",
)
def str_funcs(spark, sf):
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lower("p_type").alias("type_lc"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1).cast("int").alias("brand_num"),
        F.format_string("%s:%05d", F.col("p_type"), F.col("p_size")).alias("padded"),
        F.lower("p_type").endswith("l").alias("ends_l"),
    )


@_q(
    "date_funcs",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS INT) AS y,
              CAST(month(o_orderdate) AS INT) AS m,
              CAST(day(o_orderdate) AS INT) AS d,
              CAST(quarter(o_orderdate) AS INT) AS q,
              date_trunc('month', o_orderdate) AS month_start,
              epoch(o_orderdate) AS epoch_s,
              CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
       FROM orders""",
)
def date_funcs(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.col("o_orderdate").cast("timestamp").cast("double").alias("epoch_s"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since"),
    )


@_q(
    "math_funcs",
    """SELECT l_orderkey, l_linenumber,
              abs(l_discount - 0.05) AS abs_diff,
              sqrt(l_quantity) AS sqrt_qty,
              CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k,
              CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
              CAST(l_partkey % 7 AS BIGINT) AS pk_mod,
              greatest(l_discount, l_tax) AS max_rate,
              least(l_discount, l_tax) AS min_rate,
              CAST(sign(l_discount - l_tax) AS DOUBLE) AS rate_sign,
              round(ln(l_quantity + 1), 6) AS log_qty
       FROM lineitem""",
)
def math_funcs(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_diff"),
        F.sqrt("l_quantity").alias("sqrt_qty"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_k"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        (F.col("l_partkey") % 7).cast("long").alias("pk_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.signum(F.col("l_discount") - F.col("l_tax")).cast("double").alias("rate_sign"),
        F.round(F.log(F.col("l_quantity") + 1), 6).alias("log_qty"),
    )


@_q(
    "array_funcs",
    r"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tk
                   FROM documents)
        SELECT doc_id,
               CAST(len(tk) AS INT) AS n_tokens,
               tk[1] AS first_tok,
               tk[len(tk)] AS last_tok,
               list_contains(tk, 'spark') AS has_spark,
               array_to_string(tk[1:3], ' ') AS first3,
               list_sort(tk)[1] AS min_tok,
               CAST(len(list_distinct(tk)) AS INT) AS n_distinct
        FROM t""",
)
def array_funcs(spark, sf):
    from ..functions.hashing import tokens_sql

    d = _t(spark, sf, "documents").selectExpr("doc_id", f"{tokens_sql('text')} AS tk")
    return d.select(
        "doc_id",
        F.size("tk").cast("int").alias("n_tokens"),
        F.element_at("tk", 1).alias("first_tok"),
        F.element_at("tk", -1).alias("last_tok"),
        F.array_contains("tk", "spark").alias("has_spark"),
        F.array_join(F.slice("tk", 1, 3), " ").alias("first3"),
        F.element_at(F.array_sort("tk"), 1).alias("min_tok"),
        F.size(F.array_distinct("tk")).cast("int").alias("n_distinct"),
    )


@_q(
    "json_funcs",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
              CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_mod
       FROM events WHERE props IS NOT NULL""",
)
def json_funcs(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id", k.alias("k_int"), (k % 10).cast("int").alias("k_mod")
    )


@_q(
    "map_funcs",
    """SELECT p_partkey,
              map_extract(MAP {'brand': p_brand, 'type': p_type}, 'brand')[1] AS brand_val,
              array_to_string(map_keys(MAP {'brand': p_brand, 'type': p_type}), ',') AS keys_csv,
              CAST(cardinality(MAP {'brand': p_brand, 'type': p_type}) AS INT) AS n_keys,
              map_extract(map_from_entries([{'key': 'size', 'value': p_size}]), 'size')[1] AS size_val
       FROM part""",
)
def map_funcs(spark, sf):
    # §2.8 map family (reference dict build/lookup,
    # src/embedding_engine.py:82,98; testing/check_bucket_files.py:56-59)
    p = _t(spark, sf, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    ent = F.map_from_entries(
        F.array(F.struct(F.lit("size").alias("key"), F.col("p_size").alias("value")))
    )
    return p.select(
        "p_partkey",
        F.element_at(m, "brand").alias("brand_val"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.size(m).cast("int").alias("n_keys"),
        F.element_at(ent, "size").alias("size_val"),
    )


# =====================================================================
# Vector surface (J6 + ANN scale path)
# =====================================================================

_KNN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id, embedding AS cv FROM embeddings),
s AS (SELECT query_id, vec_id, {O.cosine('qv', 'cv')} AS sim FROM c CROSS JOIN q),
r AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM s)
SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_topk", _KNN_SQL)
def knn_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = vectors.knn_topk(q, emb, k=5)
    return out.select(
        "query_id", "vec_id", F.round("sim", 6).alias("sim"), F.col("rank").cast("int").alias("rank")
    )


def _lsh_buckets_sql(dim: int = 64, n_planes: int = 8) -> str:
    from ..functions.hashing import hyperplane_component

    rows = []
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(hyperplane_component(p, d)) for d in range(dim)) + "]"
        rows.append(f"({p}, CAST({lit} AS DOUBLE[]))")
    values = ",\n  ".join(rows)
    return f"""
WITH planes(pid, pvec) AS (VALUES
  {values}
), d AS (
  SELECT e.vec_id, pl.pid, {O.dot('e.embedding', 'pl.pvec')} AS dp
  FROM embeddings e CROSS JOIN planes pl
)
SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << pid ELSE 0 END) AS INT) AS bucket
FROM d GROUP BY vec_id
"""


@_q("ann_lsh_buckets", _lsh_buckets_sql())
def ann_lsh_buckets(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return emb.select(
        "vec_id",
        vectors.lsh_bucket("embedding", dim=64, n_planes=8).cast("int").alias("bucket"),
    )


def _ann_topk_sql(dim: int = 64, n_planes: int = 4, k: int = 5) -> str:
    from ..functions.hashing import hyperplane_component

    rows = []
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(hyperplane_component(p, d)) for d in range(dim)) + "]"
        rows.append(f"({p}, CAST({lit} AS DOUBLE[]))")
    values = ",\n  ".join(rows)
    return f"""
WITH planes(pid, pvec) AS (VALUES
  {values}
), b AS (
  SELECT e.vec_id, e.embedding,
         CAST(sum(CASE WHEN {O.dot('e.embedding', 'pl.pvec')} > 0
                       THEN 1 << pid ELSE 0 END) AS INT) AS bucket
  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id, e.embedding
), q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 8),
s AS (SELECT q.query_id, c.vec_id, {O.cosine('q.qv', 'c.embedding')} AS sim
      FROM b c JOIN q ON c.bucket = q.bucket),
r AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM s)
SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}
"""


@_q("ann_lsh_topk", _ann_topk_sql())
def ann_lsh_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = vectors.ann_lsh_topk(q, emb, k=5, dim=64, n_planes=4)
    return out.select(
        "query_id",
        "vec_id",
        F.round("sim", 6).alias("sim"),
        F.col("rank").cast("int").alias("rank"),
    )


def _eval_metrics_sql(k: int) -> str:
    """Shared recall@k + MRR oracle epilogue: expects CTEs q(query_id,
    ...), exact(query_id, vec_id, rank), ann(query_id, vec_id, rank) to
    be in scope. One definition so retrieval_eval and
    retrieval_eval_ivf can never drift in metric arithmetic."""
    return f"""hits AS (SELECT e.query_id, CAST(count(*) AS INT) AS n
         FROM exact e JOIN ann a
           ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         GROUP BY e.query_id),
top1 AS (SELECT query_id, vec_id FROM exact WHERE rank = 1),
rrank AS (SELECT t.query_id, COALESCE(1.0 / a.rank, 0.0) AS rr
          FROM top1 t LEFT JOIN ann a
            ON a.query_id = t.query_id AND a.vec_id = t.vec_id)
SELECT q.query_id,
       CAST(COALESCE(h.n, 0) AS INT) AS n_hits,
       round(COALESCE(h.n, 0) / {k}.0, 6) AS recall_k,
       round(r.rr, 6) AS rr
FROM q
LEFT JOIN hits h ON h.query_id = q.query_id
LEFT JOIN rrank r ON r.query_id = q.query_id
"""


def _retrieval_metrics(q, exact, ann, k: int):
    """Shared Spark recall@k + MRR frame (the retrieval_eval treatment):
    `exact` and `ann` are PINNED top-k frames carrying (query_id,
    vec_id, rank / ann_rank); every metric join's right side is an
    O(queries x k) broadcast, so the measurement itself is free — cost
    is the two retrieval passes that produced the inputs."""
    hits = (
        exact.join(F.broadcast(ann), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("int").alias("n"))
    )
    top1 = exact.filter(F.col("rank") == 1).select("query_id", "vec_id")
    rrank = top1.join(F.broadcast(ann), ["query_id", "vec_id"], "left").select(
        "query_id",
        F.coalesce(F.lit(1.0) / F.col("ann_rank"), F.lit(0.0)).alias("rr"),
    )
    return (
        q.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .join(F.broadcast(rrank), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)) / float(k), 6
            ).alias("recall_k"),
            F.round(F.col("rr"), 6).alias("rr"),
        )
    )


def _retrieval_eval_sql(dim: int = 64, n_planes: int = 4, k: int = 5) -> str:
    from ..functions.hashing import hyperplane_component

    rows = []
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(hyperplane_component(p, d)) for d in range(dim)) + "]"
        rows.append(f"({p}, CAST({lit} AS DOUBLE[]))")
    values = ",\n  ".join(rows)
    return f"""
WITH planes(pid, pvec) AS (VALUES
  {values}
), q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
es AS (SELECT query_id, vec_id, {O.cosine('qv', 'cv')} AS sim FROM c CROSS JOIN q),
er AS (SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
       FROM es),
exact AS (SELECT query_id, vec_id, rank FROM er WHERE rank <= {k}),
qb AS (SELECT q.query_id, q.qv,
              CAST(sum(CASE WHEN {O.dot('q.qv', 'pl.pvec')} > 0
                            THEN 1 << pid ELSE 0 END) AS INT) AS bucket
       FROM q CROSS JOIN planes pl GROUP BY q.query_id, q.qv),
cb AS (SELECT c.vec_id, c.cv,
              CAST(sum(CASE WHEN {O.dot('c.cv', 'pl.pvec')} > 0
                            THEN 1 << pid ELSE 0 END) AS INT) AS bucket
       FROM c CROSS JOIN planes pl GROUP BY c.vec_id, c.cv),
asim AS (SELECT qb.query_id, cb.vec_id, {O.cosine('qb.qv', 'cb.cv')} AS sim
         FROM cb JOIN qb ON cb.bucket = qb.bucket),
ar AS (SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
       FROM asim),
ann AS (SELECT query_id, vec_id, rank FROM ar WHERE rank <= {k}),
{_eval_metrics_sql(k)}"""


@_q("retrieval_eval", _retrieval_eval_sql())
def retrieval_eval(spark, sf):
    """ANN quality measured, not guessed: per-query recall@5 and
    reciprocal rank of the sign-LSH ANN path against exact-kNN ground
    truth (the same measurement tools/recall_probe.py does offline,
    as an oracle-checked relational query). Queries (vec_id < 8) and
    corpus (vec_id >= 8) are disjoint so no degenerate self-match
    inflates the metrics. Scale: ground truth is the broadcast-queries
    kNN (queries side small by construction), the ANN side is the
    bucket equi-join — the metric join itself touches only the two
    top-k frames (O(queries x k) rows)."""
    from ..operators.pinning import pin, pin_all

    # the eval corpus is pinned ONCE and both index lineages read the
    # checkpointed blocks (round 16, VERDICT item 6): unpinned, the
    # exact-kNN and ANN pins each re-plan and re-scan the parquet —
    # 4 scans where one suffices. Interleaved A/B at sf0.1 (the ivf
    # twin): 2.03 -> 1.74 s median. Scale caveat: the pin MATERIALIZES
    # the eval corpus — right for a gate-sized eval slice (this query's
    # contract), wrong for a production-sized table; do not lift this
    # shape onto an unbounded corpus.
    emb = pin(_t(spark, sf, "embeddings"))
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 8)
    # both top-k frames are consumed twice (hits + rank lookups) — pin
    # them so the kNN / LSH lineages run once; every metric join's
    # right side is O(queries x k) rows, so broadcast all of them.
    # pin_all: the two lineages are independent, so their checkpoint
    # materializations overlap instead of running back-to-back
    exact, ann = pin_all(
        vectors.knn_topk(q, corpus, k=5).select("query_id", "vec_id", "rank"),
        vectors.ann_lsh_topk(q, corpus, k=5, dim=64, n_planes=4).select(
            "query_id", "vec_id", F.col("rank").alias("ann_rank")
        ),
    )
    return _retrieval_metrics(q, exact, ann, k=5)


def _retrieval_eval_ivf_sql(
    dim: int = 64,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    """IVFPQ quality oracle: the _ann_ivfpq_sql encode/probe/ADC CTEs
    restricted to the eval split (queries vec_id < 8, corpus >= 8 —
    disjoint, so no self-match inflates recall), exact ground truth by
    INNER PRODUCT (the metric ADC approximates), shared metric
    epilogue. ``centroids``/``codebooks`` default to the fixed oracle
    quantizer; passing explicit values (the frozen trained artifact)
    embeds them as the same literals the Spark side loads, so the
    trained variant gets the identical full hash check."""
    from ..operators.vectors import default_pq_codebooks, ivf_centroid

    if centroids is None:
        centroids = [ivf_centroid(c, dim) for c in range(n_cells)]
    if codebooks is None:
        codebooks = default_pq_codebooks(dim, m, ksub)
    # geometry FROM the quantizer actually used, exactly as the Spark
    # side derives it (ann_ivfpq_topk_mem: m = len(codebooks)) — an
    # artifact retrained with non-default m/ksub/n_cells must reshape
    # the oracle's slicing too, or the gate mismatches with no error
    # pointing at the geometry
    n_cells = len(centroids)
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if m * dsub != dim or any(len(cv) != dim for cv in centroids):
        raise ValueError(
            f"_retrieval_eval_ivf_sql: quantizer geometry (m={m}, "
            f"dsub={dsub}, centroid dims) inconsistent with dim={dim}"
        )
    ivf_rows = []
    for c, cv in enumerate(centroids):
        lit = "[" + ", ".join(repr(v) for v in cv) + "]"
        ivf_rows.append(f"({c}, CAST({lit} AS DOUBLE[]))")
    ivf_values = ",\n  ".join(ivf_rows)
    pq_rows = []
    for j, cbk in enumerate(codebooks):
        for ci, c in enumerate(cbk):
            lit = "[" + ", ".join(repr(v) for v in c) + "]"
            hn = 0.5 * sum(x * x for x in c)
            pq_rows.append(f"({j}, {ci}, CAST({lit} AS DOUBLE[]), {hn!r})")
    pq_values = ",\n  ".join(pq_rows)
    sub_e = f"list_slice(e.embedding, c.j*{dsub}+1, c.j*{dsub}+{dsub})"
    sub_q = f"list_slice(cd.qv, e.j*{dsub}+1, e.j*{dsub}+{dsub})"
    return f"""
WITH ivfcent(cid, cv) AS (VALUES
  {ivf_values}
), pqcent(j, cid, cv, hn) AS (VALUES
  {pq_values}
), q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
es AS (SELECT query_id, vec_id, {O.dot('qv', 'embedding')} AS sim
       FROM corpus CROSS JOIN q),
er AS (SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
       FROM es),
exact AS (SELECT query_id, vec_id, rank FROM er WHERE rank <= {k}),
celld AS (
  SELECT e.vec_id, c.cid, {O.dot('e.embedding', 'c.cv')} AS dp
  FROM corpus e CROSS JOIN ivfcent c
), cellranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid ASC) AS rn
  FROM celld
), assigned AS (
  SELECT vec_id, cid FROM cellranked WHERE rn = 1
), qcell AS (
  SELECT q.query_id, q.qv, c.cid, {O.dot('q.qv', 'c.cv')} AS dp
  FROM q CROSS JOIN ivfcent c
), qranked AS (
  SELECT query_id, qv, cid,
         row_number() OVER (PARTITION BY query_id ORDER BY dp DESC, cid ASC) AS rn
  FROM qcell
), probes AS (
  SELECT query_id, qv, cid FROM qranked WHERE rn <= {nprobe}
), pqd AS (
  SELECT e.vec_id, c.j, c.cid, ({O.dot(sub_e, 'c.cv')}) - c.hn AS sc
  FROM corpus e CROSS JOIN pqcent c
), pqranked AS (
  SELECT vec_id, j, cid,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, cid ASC) AS rn
  FROM pqd
), enc AS (SELECT vec_id, j, cid FROM pqranked WHERE rn = 1),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, a.vec_id
  FROM assigned a JOIN probes p ON a.cid = p.cid
), s0 AS (
  SELECT cd.query_id, cd.vec_id, e.j, {O.dot(sub_q, 'c.cv')} AS tv
  FROM cand cd
  JOIN enc e ON e.vec_id = cd.vec_id
  JOIN pqcent c ON c.j = e.j AND c.cid = e.cid
), s AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(tv ORDER BY j)),
                     (a, b) -> a + b) AS score
  FROM s0 GROUP BY query_id, vec_id
), ar AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM s),
ann AS (SELECT query_id, vec_id, rank FROM ar WHERE rank <= {k}),
{_eval_metrics_sql(k)}"""


@_q("retrieval_eval_ivf", _retrieval_eval_ivf_sql())
def retrieval_eval_ivf(spark, sf):
    """IVF/PQ quality in the driver's gate (round-9 verdict item 4):
    per-query recall@5 + reciprocal rank of the in-memory IndexIVFPQ
    path (operators/vectors.py ann_ivfpq_topk_mem — fixed oracle
    quantizer, so DuckDB-checkable; tools/recall_probe.py holds the
    trained-centroid numbers) against exact INNER-PRODUCT kNN ground
    truth, over the same disjoint query/corpus split as
    retrieval_eval. Scale: one corpus pass emits (codes, cell); ADC
    scoring runs inside probed cells only; the metric joins touch two
    O(queries x k) broadcast frames via the shared
    _retrieval_metrics."""
    from ..operators.pinning import pin, pin_all
    from ..operators.vectors import ann_ivfpq_topk_mem, default_pq_codebooks

    # shared pinned eval-corpus scan — see retrieval_eval; interleaved
    # A/B at sf0.1: 2.03 -> 1.74 s median, rows identical
    emb = pin(_t(spark, sf, "embeddings"))
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 8)
    books = default_pq_codebooks(64, m=8, ksub=16)
    # pin_all: independent lineages, overlapped materialization
    exact, ann = pin_all(
        vectors.knn_topk(q, corpus, k=5, metric="dot").select(
            "query_id", "vec_id", "rank"
        ),
        ann_ivfpq_topk_mem(
            q, corpus, k=5, dim=64, codebooks=books, n_cells=8, nprobe=2
        ).select("query_id", "vec_id", F.col("rank").alias("ann_rank")),
    )
    return _retrieval_metrics(q, exact, ann, k=5)


def _trained_quantizer_sql() -> str | None:
    """Oracle SQL replaying ADC over the frozen artifact's literals —
    or None when the artifact is missing/corrupt, so that a sparse
    checkout (the artifact lives at repo root, outside the package)
    degrades ONLY this query to the rows-only path instead of turning
    a file-read failure into an ImportError that takes down the whole
    113-query registry, bench, and plan tooling. The query itself then
    raises the underlying error at run time with the artifact path in
    the message (frozen_quantizer's FileNotFoundError)."""
    from ..operators.vectors import frozen_quantizer

    try:
        # The SQL build stays inside the guard too: _retrieval_eval_ivf_sql
        # validates artifact geometry (dim/m/ksub consistency), so a
        # JSON-valid but shape-corrupt artifact must ALSO degrade to the
        # rows-only path — not surface as an ImportError at registry load.
        cents, books = frozen_quantizer()
        return _retrieval_eval_ivf_sql(centroids=cents, codebooks=books)
    except Exception:
        return None


@_q("retrieval_eval_ivf_trained", _trained_quantizer_sql())
def retrieval_eval_ivf_trained(spark, sf):
    """Trained-quantizer IVFPQ quality in the gate, FULLY oracle-
    checked (round-10 verdict item 2 — this was the registry's one
    rows-only entry). The split that makes it checkable: TRAINING
    (seeded distributed MLlib k-means, not SQL-expressible) ran
    offline in tools/train_quantizer.py and froze its centroids +
    codebooks into the committed artifacts/quantizer.json;
    APPLICATION (encode + probe + ADC + recall metrics) is pure
    relational math, so both this query and its oracle consume the
    SAME frozen literals and the driver gets the full
    rows+schema+hash check. Train-on-sample / freeze / apply-anywhere
    is also the production shape at 100 TB — the quantizer is a ~40 KB
    broadcast-sized artifact, retrained offline, never per-query.

    Everything else is identical to retrieval_eval_ivf (disjoint
    query/corpus split, exact inner-product ground truth, shared
    _retrieval_metrics frame), so the recall gap between the two gate
    queries IS the measured value of training the quantizer
    (tools/recall_probe.py: 0.95-1.00 trained vs 0.26 fixed at 20k
    vectors; tests/test_plans.py asserts trained >= fixed in-gate).
    The LIVE MLlib training path stays exercised by
    tests/test_vectors.py (both trainers, quality-asserted)."""
    from ..operators.pinning import pin_all
    from ..operators.vectors import ann_ivfpq_topk_mem, frozen_quantizer

    cents, books = frozen_quantizer()
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 8)
    # pin_all: independent lineages, overlapped materialization
    exact, ann = pin_all(
        vectors.knn_topk(q, corpus, k=5, metric="dot").select(
            "query_id", "vec_id", "rank"
        ),
        ann_ivfpq_topk_mem(
            q, corpus, k=5, dim=64, codebooks=books, nprobe=2,
            centroids=cents,
        ).select("query_id", "vec_id", F.col("rank").alias("ann_rank")),
    )
    return _retrieval_metrics(q, exact, ann, k=5)


def _dedup_spans_sql(k: int = 8, min_docs: int = 2) -> str:
    toks = O.tokens("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= {k}),
sp AS (SELECT doc_id, unnest(generate_series(1, len(tk)-{k}+1)) AS pos, tk
       FROM t2),
sh AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              {O.md5_span_key(f"array_to_string(tk[pos:pos+{k - 1}], ' ')")} AS h
       FROM sp),
dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}),
d AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (h)),
fl AS (SELECT doc_id, pos,
              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {k}
                   THEN 0 ELSE 1 END AS nw
       FROM d),
isl AS (SELECT doc_id, pos,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM fl)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS region_start,
       CAST(max(pos) - min(pos) + {k} AS BIGINT) AS region_len,
       CAST(count(*) AS BIGINT) AS n_spans
FROM isl GROUP BY doc_id, g
"""


@_q("dedup_spans", _dedup_spans_sql())
def dedup_spans(spark, sf):
    """Substring-level exact dedup (round-9 verdict item 5): maximal
    duplicated k-token regions across documents via the rolling-hash
    span index in operators/dedup.py duplicated_spans — the Lee et al.
    2021 ExactSubstr family, bucketed by span hash, never all-pairs."""
    return dedup.duplicated_spans(_t(spark, sf, "documents"), k=8)


def _dedup_spans_strip_sql(k: int = 8, min_docs: int = 2) -> str:
    toks = O.tokens("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= {k}),
sp AS (SELECT doc_id, unnest(generate_series(1, len(tk)-{k}+1)) AS pos, tk
       FROM t2),
sh AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              {O.md5_span_key(f"array_to_string(tk[pos:pos+{k - 1}], ' ')")} AS h
       FROM sp),
dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}),
d AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (h)),
fl AS (SELECT doc_id, pos,
              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {k}
                   THEN 0 ELSE 1 END AS nw
       FROM d),
isl AS (SELECT doc_id, pos,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM fl),
r AS (SELECT doc_id, min(pos) AS rs, max(pos) - min(pos) + {k} AS rl
      FROM isl GROUP BY doc_id, g),
regs AS (SELECT doc_id, list([rs, rl]) AS rg FROM r GROUP BY doc_id),
kept AS (SELECT t.doc_id,
                list_filter(t.tk, (x, i) ->
                  len(list_filter(coalesce(regs.rg, CAST([] AS BIGINT[][])),
                                  q -> i >= q[1] AND i < q[1] + q[2])) = 0
                ) AS kt,
                len(t.tk) AS nt
         FROM t LEFT JOIN regs USING (doc_id))
SELECT doc_id,
       coalesce(array_to_string(kt, ' '), '') AS text,
       CAST(nt - len(kt) AS BIGINT) AS n_dropped
FROM kept
WHERE nt - len(kt) > 0
"""


def _dedup_spans_strip_raw_sql(k: int = 8, min_docs: int = 2) -> str:
    toks = O.tokens("text")

    def sl(arr: str, m: str) -> str:
        # sum of lengths of the first m list elements (m may be 0)
        return (
            f"coalesce(list_sum(list_transform({arr}[1:{m}], "
            f"s -> length(s))), 0)"
        )

    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= {k}),
sp AS (SELECT doc_id, unnest(generate_series(1, len(tk)-{k}+1)) AS pos, tk
       FROM t2),
sh AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              {O.md5_span_key(f"array_to_string(tk[pos:pos+{k - 1}], ' ')")} AS h
       FROM sp),
dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}),
d AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (h)),
fl AS (SELECT doc_id, pos,
              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {k}
                   THEN 0 ELSE 1 END AS nw
       FROM d),
isl AS (SELECT doc_id, pos,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM fl),
r AS (SELECT doc_id, min(pos) AS rs, max(pos) - min(pos) + {k} AS rl
      FROM isl GROUP BY doc_id, g),
tok AS (SELECT doc_id, text,
               regexp_extract_all(text, '\\S+') AS tks,
               regexp_split_to_array(text, '\\S+') AS gps
        FROM documents),
cuts AS (SELECT r.doc_id, tok.text, r.rl,
                CAST({sl('gps', 'rs')} + {sl('tks', 'rs-1')} + 1 AS BIGINT) AS cs,
                CAST({sl('gps', 'rs+rl-1')} + {sl('tks', 'rs+rl-1')} AS BIGINT) AS ce
         FROM r JOIN tok USING (doc_id)),
segs AS (SELECT doc_id, text, cs, ce, rl,
                coalesce(lag(ce) OVER (PARTITION BY doc_id ORDER BY cs), 0) AS pe
         FROM cuts),
ag AS (SELECT doc_id,
              string_agg(substr(text, CAST(pe+1 AS INT), CAST(cs-pe-1 AS INT)),
                         '' ORDER BY cs) AS pre,
              max(ce) AS le,
              CAST(sum(rl) AS BIGINT) AS n_dropped,
              min(text) AS tx
       FROM segs GROUP BY doc_id)
SELECT doc_id,
       pre || substr(tx, CAST(le+1 AS INT), CAST(length(tx)-le AS INT)) AS text,
       n_dropped
FROM ag
"""


@_q("dedup_spans_strip_raw", _dedup_spans_strip_raw_sql())
def dedup_spans_strip_raw(spark, sf):
    """Original-byte substring-dedup apply (round-11 verdict item 2):
    duplicated k-token regions cut out of the ORIGINAL text as
    character ranges — casing, punctuation, and whitespace of kept
    text byte-identical to the input (Lee et al. cut byte ranges; the
    token-space dedup_spans_strip lowercases and single-spaces
    everything it keeps). operators/dedup.py
    strip_duplicated_spans_raw recovers each region's character span
    from prefix-length sums over the token/gap arrays — evaluated only
    at region boundaries — and rebuilds kept text from the O(regions)
    inter-cut substrings. Same changed-docs-only report shape as
    dedup_spans_strip (the n_dropped > 0 filter also forces the apply
    path to evaluate under a bare count)."""
    out = dedup.strip_duplicated_spans_raw(_t(spark, sf, "documents"), k=8)
    return out.filter(F.col("n_dropped") > 0)


@_q("dedup_spans_strip", _dedup_spans_strip_sql())
def dedup_spans_strip(spark, sf):
    """The APPLY step of substring dedup: duplicated regions removed
    (token-space output), n_dropped accounting — operators/dedup.py
    strip_duplicated_spans. The registry query reports the DELTA (docs
    that actually changed): the full-corpus pass-through form's row
    count equals the input's, so a bare count() lets Catalyst eliminate
    the aggregate-unique-key left join and prune the entire strip plan
    to a parquet metadata count — a real optimizer win, but it would
    make the bench entry measure nothing. The n_dropped > 0 filter
    keeps the output the report a user wants AND forces the apply path
    to evaluate under any action."""
    out = dedup.strip_duplicated_spans(_t(spark, sf, "documents"), k=8)
    return out.filter(F.col("n_dropped") > 0)


def _ann_ivf_sql(dim: int = 64, n_cells: int = 8, nprobe: int = 2, k: int = 5) -> str:
    from ..operators.vectors import ivf_centroid

    rows = []
    for c in range(n_cells):
        lit = "[" + ", ".join(repr(v) for v in ivf_centroid(c, dim)) + "]"
        rows.append(f"({c}, CAST({lit} AS DOUBLE[]))")
    values = ",\n  ".join(rows)
    return f"""
WITH cent(cid, cv) AS (VALUES
  {values}
), d AS (
  SELECT e.vec_id, e.embedding, c.cid, {O.dot('e.embedding', 'c.cv')} AS dp
  FROM embeddings e CROSS JOIN cent c
), ranked AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid ASC) AS rn
  FROM d
), assigned AS (
  SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid
  FROM ranked WHERE vec_id < 8 AND rn <= {nprobe}
), s AS (
  SELECT p.query_id, a.vec_id, {O.cosine('p.qv', 'a.embedding')} AS sim
  FROM assigned a JOIN probes p ON a.cid = p.cid
), r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM s)
SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}
"""


@_q("ann_ivf_topk", _ann_ivf_sql())
def ann_ivf_topk(spark, sf):
    from ..operators.vectors import ann_ivf_topk as op

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = op(q, emb, k=5, dim=64, n_cells=8, nprobe=2)
    return out.select(
        "query_id",
        "vec_id",
        F.round("sim", 6).alias("sim"),
        F.col("rank").cast("int").alias("rank"),
    )


def _ann_pq_sql(dim: int = 64, m: int = 8, ksub: int = 16, k: int = 5) -> str:
    """PQ/ADC oracle: encode = per-subspace argmax of dot(x_j, c) - ||c||²/2
    (row_number ranking mirrors the Spark array_sort tie-break), score =
    ordered fold over the per-query subspace lookup values (list(tv
    ORDER BY j) — same j-order fold as Spark's aggregate(sequence(...)),
    so scores are bit-identical, not just close)."""
    from ..operators.vectors import default_pq_codebooks

    dsub = dim // m
    books = default_pq_codebooks(dim, m, ksub)
    rows = []
    for j, cb in enumerate(books):
        for ci, c in enumerate(cb):
            lit = "[" + ", ".join(repr(v) for v in c) + "]"
            hn = 0.5 * sum(x * x for x in c)
            rows.append(f"({j}, {ci}, CAST({lit} AS DOUBLE[]), {hn!r})")
    values = ",\n  ".join(rows)
    sub_e = f"list_slice(e.embedding, c.j*{dsub}+1, c.j*{dsub}+{dsub})"
    sub_q = f"list_slice(q.qv, e.j*{dsub}+1, e.j*{dsub}+{dsub})"
    return f"""
WITH cent(j, cid, cv, hn) AS (VALUES
  {values}
), d AS (
  SELECT e.vec_id, c.j, c.cid, ({O.dot(sub_e, 'c.cv')}) - c.hn AS sc
  FROM embeddings e CROSS JOIN cent c
), ranked AS (
  SELECT vec_id, j, cid,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, cid ASC) AS rn
  FROM d
), enc AS (SELECT vec_id, j, cid FROM ranked WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
s0 AS (
  SELECT q.query_id, e.vec_id, e.j, {O.dot(sub_q, 'c.cv')} AS tv
  FROM enc e JOIN cent c ON c.j = e.j AND c.cid = e.cid CROSS JOIN q
), s AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(tv ORDER BY j)),
                     (a, b) -> a + b) AS score
  FROM s0 GROUP BY query_id, vec_id
), r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM s)
SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}
"""


@_q("ann_pq_topk", _ann_pq_sql())
def ann_pq_topk(spark, sf):
    from ..operators.vectors import ann_pq_topk as op
    from ..operators.vectors import default_pq_codebooks, pq_encode
    from ..session import ensure_parallelism

    emb = _t(spark, sf, "embeddings")
    books = default_pq_codebooks(64, m=8, ksub=16)
    # ensure_parallelism: the encode is m*ksub interpreted dot folds
    # per row — a one-file local scan would single-thread it (no-op on
    # already-split inputs)
    codes = pq_encode(ensure_parallelism(emb), books)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = op(q, codes, books, k=5)
    return out.select(
        "query_id",
        "vec_id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def _ann_ivfpq_sql(
    dim: int = 64,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    refine: int | None = None,
) -> str:
    """In-memory IndexIVFPQ oracle: the IVF cell-assignment/probe CTEs
    (_ann_ivf_sql) composed with the PQ encode/ADC CTEs (_ann_pq_sql) —
    candidates restricted to query-probed cells, scored by the ordered
    subspace fold (bit-identical to Spark's aggregate(sequence(...))).

    With ``refine`` set, the ADC ranking becomes a k*refine SHORTLIST
    and the final ranking is an EXACT inner-product rerank of only the
    shortlisted (query, candidate) pairs — the ann_ivfpq_rerank gate's
    replay of the IndexRefineFlat recipe."""
    from ..operators.vectors import default_pq_codebooks, ivf_centroid

    dsub = dim // m
    ivf_rows = []
    for c in range(n_cells):
        lit = "[" + ", ".join(repr(v) for v in ivf_centroid(c, dim)) + "]"
        ivf_rows.append(f"({c}, CAST({lit} AS DOUBLE[]))")
    ivf_values = ",\n  ".join(ivf_rows)
    pq_rows = []
    for j, cbk in enumerate(default_pq_codebooks(dim, m, ksub)):
        for ci, c in enumerate(cbk):
            lit = "[" + ", ".join(repr(v) for v in c) + "]"
            hn = 0.5 * sum(x * x for x in c)
            pq_rows.append(f"({j}, {ci}, CAST({lit} AS DOUBLE[]), {hn!r})")
    pq_values = ",\n  ".join(pq_rows)
    sub_e = f"list_slice(e.embedding, c.j*{dsub}+1, c.j*{dsub}+{dsub})"
    sub_q = f"list_slice(cd.qv, e.j*{dsub}+1, e.j*{dsub}+{dsub})"
    if refine is None:
        tail = f"""
SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}"""
    else:
        # exact inner-product rerank of the k*refine ADC shortlist --
        # the same sequential fold as O.dot / Spark's dot()
        tail = f""",
shortlist AS (SELECT query_id, vec_id FROM r WHERE rank <= {k * refine}),
ex AS (
  SELECT sl.query_id, sl.vec_id, {O.dot('qe.embedding', 'ce.embedding')} AS score
  FROM shortlist sl
  JOIN embeddings ce ON ce.vec_id = sl.vec_id
  JOIN embeddings qe ON qe.vec_id = sl.query_id
), rr AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM ex)
SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS INT) AS rank
FROM rr WHERE rank <= {k}"""
    return f"""
WITH ivfcent(cid, cv) AS (VALUES
  {ivf_values}
), pqcent(j, cid, cv, hn) AS (VALUES
  {pq_values}
), celld AS (
  SELECT e.vec_id, e.embedding, c.cid, {O.dot('e.embedding', 'c.cv')} AS dp
  FROM embeddings e CROSS JOIN ivfcent c
), cellranked AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid ASC) AS rn
  FROM celld
), assigned AS (
  SELECT vec_id, cid FROM cellranked WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid
  FROM cellranked WHERE vec_id < 8 AND rn <= {nprobe}
), pqd AS (
  SELECT e.vec_id, c.j, c.cid, ({O.dot(sub_e, 'c.cv')}) - c.hn AS sc
  FROM embeddings e CROSS JOIN pqcent c
), pqranked AS (
  SELECT vec_id, j, cid,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, cid ASC) AS rn
  FROM pqd
), enc AS (SELECT vec_id, j, cid FROM pqranked WHERE rn = 1),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, a.vec_id
  FROM assigned a JOIN probes p ON a.cid = p.cid
), s0 AS (
  SELECT cd.query_id, cd.vec_id, e.j, {O.dot(sub_q, 'c.cv')} AS tv
  FROM cand cd
  JOIN enc e ON e.vec_id = cd.vec_id
  JOIN pqcent c ON c.j = e.j AND c.cid = e.cid
), s AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(tv ORDER BY j)),
                     (a, b) -> a + b) AS score
  FROM s0 GROUP BY query_id, vec_id
), r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM s){tail}
"""


@_q("ann_ivfpq_mem", _ann_ivfpq_sql())
def ann_ivfpq_mem(spark, sf):
    from ..operators.vectors import ann_ivfpq_topk_mem, default_pq_codebooks

    emb = _t(spark, sf, "embeddings")
    books = default_pq_codebooks(64, m=8, ksub=16)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_ivfpq_topk_mem(q, emb, k=5, dim=64, codebooks=books, n_cells=8, nprobe=2)
    return out.select(
        "query_id",
        "vec_id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def _emb_blocked_sql(
    dim: int = 64,
    n_tables: int = 4,
    n_planes: int = 4,
    max_bucket: int | None = None,
) -> str:
    """Oracle mirror of the BLOCKED near-dup path: same multi-table
    sign-LSH bucket join (vectors.lsh_band_keys planes), same exact
    cosine rerank — not the all-pairs form, so the driver checks the
    production plan's semantics, not a weaker stand-in. `max_bucket`
    mirrors the operator's max_bucket_size skew cap: (tbl, bkt) groups
    larger than the cap are dropped before pairing."""
    from ..functions.hashing import hyperplane_component
    from ..operators.vectors import LSH_TABLE_OFFSET

    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            lit = "[" + ", ".join(
                repr(hyperplane_component(LSH_TABLE_OFFSET + t * n_planes + p, d))
                for d in range(dim)
            ) + "]"
            rows.append(f"({t}, {p}, CAST({lit} AS DOUBLE[]))")
    values = ",\n  ".join(rows)
    cap_cte, pair_src = "", "d"
    if max_bucket is not None:
        cap_cte = f""",
sz AS (SELECT tbl, bkt FROM d GROUP BY tbl, bkt HAVING count(*) <= {max_bucket}),
dc AS (SELECT d.vec_id, d.tbl, d.bkt FROM d JOIN sz ON d.tbl = sz.tbl AND d.bkt = sz.bkt)"""
        pair_src = "dc"
    return f"""
WITH planes(tbl, pid, pvec) AS (VALUES
  {values}
), e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
d AS (
  SELECT e.vec_id, pl.tbl,
         CAST(sum(CASE WHEN {O.dot('e.embedding', 'pl.pvec')} > 0
                       THEN 1 << pl.pid ELSE 0 END) AS INT) AS bkt
  FROM e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl
){cap_cte},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM {pair_src} a JOIN {pair_src} b
    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
),
p AS (
  SELECT c.vec_a, c.vec_b, {O.cosine('ea.embedding', 'eb.embedding')} AS cos_sim
  FROM cand c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, round(cos_sim, 6) AS cos_sim
FROM p ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 50
"""


@_q("dedup_embedding_cosine", _emb_blocked_sql())
def dedup_embedding_cosine(spark, sf):
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=-2.0, dim=64)
    return (
        pairs.orderBy(F.desc("cos_sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
        .select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


_SEMDEDUP_TAU = 0.35


def _semdedup_sql(cents: list | None = None) -> str | None:
    """Oracle for the SemDeDup gate: replays the frozen trained
    centroids' cell assignment + within-cell greedy near-dup drop in
    DuckDB. Same artifact guard as _trained_quantizer_sql — a missing
    or corrupt artifacts/quantizer.json degrades this ONE query to the
    rows-only path instead of an ImportError taking down the registry.

    ``cents`` overrides the frozen artifact — the scale-replica parity
    harness rebuilds this oracle from ``<sf_dir>/quantizer.json`` so
    the dedup_semantic gate's cells-follow-the-corpus seam stays
    oracle-checked at replica scale too (the registry's static string
    always replays the frozen artifact, which is the gate's behavior
    at every driver sf dir)."""
    from ..operators.vectors import frozen_quantizer

    try:
        if cents is None:
            cents, _books = frozen_quantizer()
    except Exception:
        return None
    rows = []
    for c, v in enumerate(cents):
        lit = "[" + ", ".join(repr(x) for x in v) + "]"
        rows.append(f"({c}, CAST({lit} AS DOUBLE[]))")
    values = ",\n  ".join(rows)
    return f"""
WITH cent(cid, cv) AS (VALUES
  {values}
), d AS (
  SELECT e.vec_id, e.embedding, c.cid, {O.dot('e.embedding', 'c.cv')} AS dp
  FROM embeddings e CROSS JOIN cent c
), ranked AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid ASC) AS rn
  FROM d
), assigned AS (
  SELECT vec_id, embedding, CAST(cid AS INTEGER) AS cell
  FROM ranked WHERE rn = 1
), dropped AS (
  SELECT b.vec_id, min(a.vec_id) AS dup_of,
         round(max({O.cosine('a.embedding', 'b.embedding')}), 6) AS cos_max
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {O.cosine('a.embedding', 'b.embedding')} >= {_SEMDEDUP_TAU!r}
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell, dr.dup_of, dr.cos_max
FROM assigned s JOIN dropped dr ON s.vec_id = dr.vec_id
"""


@_q("dedup_semantic", _semdedup_sql())
def dedup_semantic(spark, sf):
    """SemDeDup (round-11 verdict item 3): frozen trained k-means
    cells (artifacts/quantizer.json — the train/freeze/apply seam) +
    within-cell greedy cosine pruning, composed in
    operators/dedup.py semantic_dedup. The gate reports the DROP table
    (vec_id, cell, dup_of, cos_max): the drop set IS the operator's
    semantic output, and reporting only changed rows keeps a bare
    count() from letting Catalyst eliminate the unique-key left join
    (the dedup_spans_strip precedent).

    CELLS FOLLOW THE CORPUS (round-12 verdict item 2): SemDeDup's only
    quadratic stage is the within-cell pairing, so cell count must
    scale with data volume (the paper: 50k cells / 5B embeddings). A
    scale directory may therefore carry its OWN trained quantizer —
    ``<sf_dir>/quantizer.json``, written by tools/make_scale_replica.py
    with n_cells ~ vectors/250 — and this gate prefers it; the driver's
    sf dirs carry none and fall back to the committed sf0.01-trained
    artifact, which is exactly what the static oracle replays (the
    oracle only ever runs at gate scale, where the fallback is the
    correct quantizer for the corpus)."""
    import json as _json
    import pathlib as _pathlib

    from ..operators.vectors import frozen_quantizer

    local = _pathlib.Path(sf) / "quantizer.json"
    if local.is_file():
        cents = _json.loads(local.read_text())["centroids"]
    else:
        cents, _books = frozen_quantizer()
    out = dedup.semantic_dedup(
        _t(spark, sf, "embeddings"),
        threshold=_SEMDEDUP_TAU,
        dim=64,
        centroids=cents,
    )
    return out.filter(~F.col("keep")).select(
        "vec_id", "cell", "dup_of", F.round("cos_max", 6).alias("cos_max")
    )


@_q("dedup_embedding_capped", _emb_blocked_sql(max_bucket=8))
def dedup_embedding_capped(spark, sf):
    """Blocked near-dup with the max_bucket_size skew cap engaged: at
    200 vectors / 16 buckets per table the average bucket holds ~12, so
    a cap of 8 genuinely drops buckets and the oracle checks the capped
    candidate set — the degenerate-template hygiene path the 100x scale
    probe exercises (see tools/scale_probe.py embedding_near_dup_capped)."""
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
    pairs = dedup.embedding_near_dup_pairs(
        emb, threshold=-2.0, dim=64, max_bucket_size=8
    )
    return (
        pairs.orderBy(F.desc("cos_sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
        .select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


# =====================================================================
# Dedup surface
# =====================================================================

_CORPUS_SQL = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 25
)"""


def _dup_corpus(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 25).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return d.unionByName(dups)


@_q(
    "dedup_exact",
    f"""WITH {_CORPUS_SQL}
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
               CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size
        FROM corpus""",
)
def dedup_exact(spark, sf):
    return dedup.dedup_exact(_dup_corpus(spark, sf))


_HS = O.hash_array(O.word_shingles(O.tokens("text")))


def _mh_cols() -> list[str]:
    cols = []
    for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)):
        cols.append(
            f"coalesce(list_min(list_transform(hs, "
            f"h -> ({a}*(h % {MERSENNE31}) + {b}) % {MERSENNE31})), {MERSENNE31}) AS mh_{i}"
        )
    return cols


_MINHASH_SQL = f"""
WITH t AS (SELECT doc_id, {_HS} AS hs FROM documents)
SELECT doc_id, {', '.join(_mh_cols())} FROM t
"""


@_q("dedup_minhash", _MINHASH_SQL)
def dedup_minhash(spark, sf):
    return dedup.minhash_signatures(_t(spark, sf, "documents"))


def _lsh_ctes(corpus_sql: str | None = None) -> str:
    """The corpus -> shingle-hash -> signature -> band CTE chain shared
    by the LSH-pairs / dedup-clusters / prepare-corpus oracles.
    ``corpus_sql`` overrides the corpus CTE (must define ``corpus`` with
    (doc_id, text) columns); default is the doubled test corpus."""
    band_selects = []
    for b in range(LSH_BANDS):
        key = " || ':' || ".join(
            f"CAST(mh_{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        band_selects.append(f"SELECT doc_id, {b} AS band, {key} AS key FROM sig")
    bands = "\nUNION ALL\n".join(band_selects)
    return f"""{corpus_sql or _CORPUS_SQL},
t AS (SELECT doc_id, {_HS} AS hs FROM corpus),
sig AS (SELECT doc_id, {', '.join(_mh_cols())} FROM t WHERE len(hs) > 0),
bands AS ({bands})"""


def _lsh_pairs_sql() -> str:
    return f"""
WITH {_lsh_ctes()}
SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_bands
FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
GROUP BY 1, 2
"""


@_q("dedup_lsh_pairs", _lsh_pairs_sql())
def dedup_lsh_pairs(spark, sf):
    return dedup.lsh_candidate_pairs(_dup_corpus(spark, sf))


def _dedup_eval_sql() -> str:
    return f"""
WITH {_lsh_ctes()},
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_bands
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
sh AS (SELECT doc_id, list_distinct({O.word_shingles(O.tokens('text'))}) AS s
       FROM corpus),
j AS (
  SELECT p.doc_a, p.doc_b, p.n_bands,
         len(list_intersect(sa.s, sb.s)) AS i,
         len(sa.s) AS na, len(sb.s) AS nb
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, n_bands,
       i / CAST(na + nb - i AS DOUBLE) AS jaccard,
       CAST(i / CAST(na + nb - i AS DOUBLE) >= 0.5 AS INT) AS is_dup
FROM j
"""


@_q("dedup_eval", _dedup_eval_sql())
def dedup_eval(spark, sf):
    """Candidate-quality eval for the banded-LSH dedup path: every LSH
    candidate pair re-scored with its EXACT word-shingle Jaccard (the
    retrieval_eval idea applied to the dedup family — measure the
    sketch, don't trust it). is_dup labels pairs at the 0.5 threshold,
    so precision = avg(is_dup) is one agg away. The verify is the
    shared ``dedup.verify_pairs_jaccard`` rerank — the same code the
    scale probe measures (see its docstring for the let-binding and
    unrounded-jaccard contracts). It scores distinct shingle HASHES;
    the oracle scores the shingle strings, so parity also checks that
    no hash collision moved a score."""
    corpus = _dup_corpus(spark, sf)
    cand = dedup.lsh_candidate_pairs(corpus)
    return dedup.verify_pairs_jaccard(cand, corpus).select(
        "doc_a", "doc_b", "n_bands", "jaccard", "is_dup"
    )


def _dedup_clusters_sql() -> str:
    """Transitive closure of LSH candidate pairs via recursive CTE —
    min reachable doc_id = the component label."""
    return f"""
WITH RECURSIVE {_lsh_ctes()},
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
reach(v, lab) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT u.o, r.lab
  FROM reach r
  JOIN (SELECT doc_a AS i, doc_b AS o FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs) u ON u.i = r.v
)
SELECT v AS doc_id, min(lab) AS component_id FROM reach GROUP BY v
"""


@_q("dedup_clusters", _dedup_clusters_sql())
def dedup_clusters(spark, sf):
    corpus = _dup_corpus(spark, sf)
    # dedupe_pairs=False: the closure takes a min over neighbors, so
    # the per-pair dedup shuffle is pure overhead (round-15, guide
    # §2.4); the oracle's GROUP BY pairs CTE is closure-invariant
    pairs = dedup.lsh_candidate_pairs(corpus, dedupe_pairs=False)
    return dedup.connected_components(corpus.select("doc_id"), pairs)


# exact-digest edges UNION LSH candidate edges -> recursive-CTE closure;
# appended after _lsh_ctes(...); defines `closure` = (doc_id,
# component_id, keep) over whatever `corpus` the prefix established
_CLOSURE_CTES = """
exact_pairs AS (
  -- IS NOT DISTINCT FROM: Spark's dedup_exact windows over the digest,
  -- which groups NULL texts together; a plain '=' would silently drop
  -- those edges and diverge on the first NULL-text row
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM corpus l JOIN corpus r
    ON md5(l.text) IS NOT DISTINCT FROM md5(r.text) AND l.doc_id < r.doc_id
),
near_pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
pairs AS (SELECT doc_a, doc_b FROM exact_pairs UNION SELECT doc_a, doc_b FROM near_pairs),
reach(v, lab) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT u.o, r.lab
  FROM reach r
  JOIN (SELECT doc_a AS i, doc_b AS o FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs) u ON u.i = r.v
),
closure AS (
  SELECT v AS doc_id, min(lab) AS component_id, v = min(lab) AS keep
  FROM reach GROUP BY v
)"""


def _dedup_corpus_sql() -> str:
    """Oracle for the end-to-end keep/drop policy: exact-digest edges
    UNION LSH candidate edges -> recursive-CTE closure -> keep the min
    doc_id per component."""
    return f"""
WITH RECURSIVE {_lsh_ctes()},
{_CLOSURE_CTES}
SELECT doc_id, component_id, keep FROM closure
"""


@_q("dedup_corpus", _dedup_corpus_sql())
def dedup_corpus(spark, sf):
    return dedup.dedup_corpus(_dup_corpus(spark, sf))


_DECON_HS = O.hash_array(O.word_shingles(O.tokens("text"), 8))

# Both decontamination oracles drop per ROW, as both operator tiers do:
# a row leaves iff its own key list meets the benchmark's key set, so a
# clean duplicate-id twin stays and a contaminated NULL-id row goes (an
# id-keyed NOT IN would drop the twin, drop every clean NULL-id row, and
# drop everything once a contaminated id is NULL).
_DECON_SQL = f"""
WITH bench AS (
  SELECT list(DISTINCT h) AS hs
  FROM (SELECT unnest({_DECON_HS}) AS h FROM documents WHERE doc_id < 20)
)
SELECT doc_id, n_chars FROM documents, bench
WHERE NOT coalesce(list_has_any({_DECON_HS}, bench.hs), false)
"""


@_q("decontaminate", _DECON_SQL)
def decontaminate(spark, sf):
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 20).select("text")
    return text.decontaminate(docs, bench, n=8).select("doc_id", "n_chars")


def _decon_fuzzy_sql() -> str:
    keys = ", ".join(
        f"'{b}:' || "
        + " || ':' || ".join(
            f"CAST(mh[{b * LSH_ROWS + r + 1}] AS VARCHAR)" for r in range(LSH_ROWS)
        )
        for b in range(LSH_BANDS)
    )
    return f"""
WITH t AS (SELECT doc_id, n_chars, {_HS} AS hs FROM documents),
sig AS (SELECT doc_id, n_chars, len(hs) > 0 AS ok,
               {O.minhash_signature('hs')} AS mh FROM t),
k AS (SELECT doc_id, n_chars, CASE WHEN ok THEN [{keys}] ELSE [] END AS ks
      FROM sig),
bench AS (
  SELECT list(DISTINCT x) AS ks
  FROM (SELECT unnest(ks) AS x FROM k WHERE doc_id < 20)
)
SELECT k.doc_id, k.n_chars FROM k, bench
WHERE NOT coalesce(list_has_any(k.ks, bench.ks), false)
"""


@_q("decontaminate_fuzzy", _decon_fuzzy_sql())
def decontaminate_fuzzy(spark, sf):
    """Fuzzy (MinHash-LSH) benchmark decontamination (round-14 verdict
    item 6): docs whose LSH band signature collides with any benchmark
    doc are dropped — catches paraphrased contamination that exact
    8-gram overlap provably misses. Shared banding chain with
    lsh_candidate_pairs; each doc row's band keys are probed against
    the test-set-sized benchmark keys through joins.small_side (one IN
    literal at this size, else a broadcast semi join plus an anti join
    on the whole row), dropping per row — the corpus never
    pair-expands (operators/text.py decontaminate_fuzzy)."""
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 20).select("text")
    return text.decontaminate_fuzzy(docs, bench).select("doc_id", "n_chars")


_NORM_SQL = r"""
SELECT doc_id,
       trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm_text
FROM documents
"""


@_q("normalize_text", _NORM_SQL)
def normalize_text(spark, sf):
    return text.normalize_text(_t(spark, sf, "documents"))


_SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id, {O.hash_array(O.tokens('text'))} AS hs FROM documents)
SELECT doc_id, {O.simhash16('hs')} AS simhash FROM t
"""


@_q("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark, sf):
    out = dedup.simhash_fingerprints(_t(spark, sf, "documents"))
    return out.select("doc_id", F.col("simhash").cast("int").alias("simhash"))


_JACCARD_SQL = f"""
WITH d AS (SELECT doc_id, list_distinct({O.word_shingles(O.tokens('text'))}) AS sh
           FROM documents WHERE doc_id < 40),
sz AS (SELECT doc_id, len(sh) AS n FROM d),
inv AS (SELECT doc_id, unnest(sh) AS s FROM d),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, i / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50
"""


@_q("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 40)
    pairs = dedup.ngram_jaccard_pairs(docs)
    return pairs.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(50)


# =====================================================================
# Text-analysis surface
# =====================================================================

def _lang_sql() -> str:
    selects = []
    for code, words in sorted(text.LANG_PROFILES.items()):
        lit = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        selects.append(
            f"SELECT doc_id, '{code}' AS code, "
            f"len(list_filter(tk, t2 -> list_contains({lit}, t2))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS score "
            f"FROM toks"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH toks AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
sc AS ({union}),
r AS (SELECT doc_id, code, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, code ASC) AS rn
      FROM sc)
SELECT doc_id, code AS pred_lang, round(score, 6) AS lang_score FROM r WHERE rn = 1
"""


@_q("lang_id", _lang_sql())
def lang_id(spark, sf):
    return text.lang_id(_t(spark, sf, "documents"))


def _lang_trained_sql() -> str | None:
    """Oracle for the trained CCNet-style langid stage: replays the
    frozen artifact's per-(trigram, language) log-prob literals with
    the identical per-language round-sum + prior + first-tie-break
    argmax CASE chain. Same artifact guard as _lm_perplexity_sql: a
    missing/corrupt artifacts/langid.json degrades this ONE query to
    the rows-only path."""
    from ..operators.text import frozen_langid

    try:
        m = frozen_langid()
        langs = list(m["langs"])
        n = int(m["n"])
        rows = ",\n  ".join(
            "('"
            + t.replace("'", "''")
            + "', "
            + ", ".join(f"{float(ws[l])!r}" for l in langs)
            + ")"
            for t, ws in sorted(m["weights"].items())
        )
        if not rows:
            return None
    except Exception:
        return None
    wcols = ", ".join(f"w_{l}" for l in langs)
    sums = ",\n             ".join(
        f"round(sum(coalesce(w.w_{l}, {float(m['floors'][l])!r})), 6) AS s_{l}"
        for l in langs
    )
    scores = ",\n             ".join(
        f"{float(m['priors'][l])!r} + coalesce(s.s_{l}, 0.0) AS c_{l}"
        for l in langs
    )
    # argmax with first-lang tie-break: lang i wins iff >= every later
    branches = " ".join(
        "WHEN "
        + " AND ".join(f"c_{langs[i]} >= c_{l}" for l in langs[i + 1 :])
        + f" THEN '{langs[i]}'"
        for i in range(len(langs) - 1)
    )
    call = ", ".join(f"c_{l}" for l in langs)
    return f"""
WITH w(term, {wcols}) AS (VALUES
  {rows}
), g AS (SELECT doc_id,
                unnest(CASE WHEN length(lower(text)) >= {n}
                       THEN list_transform(
                              generate_series(1, length(lower(text)) - {n - 1}),
                              i -> substring(lower(text), i, {n}))
                       ELSE [] END) AS term
         FROM documents),
s AS (SELECT g.doc_id,
             {sums}
      FROM g LEFT JOIN w USING (term)
      GROUP BY g.doc_id),
sc AS (SELECT d.doc_id,
             {scores}
       FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id)
SELECT doc_id,
       CASE {branches} ELSE '{langs[-1]}' END AS pred_lang,
       round(greatest({call}), 6) AS lang_score
FROM sc
"""


@_q("lang_id_trained", _lang_trained_sql())
def lang_id_trained(spark, sf):
    """Trained language ID (round-14 verdict item 3): the frozen
    char-trigram NB classifier (artifacts/langid.json, CCNet's
    fastText-style langid stage) applied as explode -> ONE broadcast
    join against the wide per-language weight table -> per-doc sums ->
    argmax with the heuristic's tie-break — the quality_classifier
    plan shape with a language axis riding as columns
    (operators/text.py lang_id_trained)."""
    return text.lang_id_trained(_t(spark, sf, "documents"))


_EN_STOPS = "[" + ", ".join(f"'{w}'" for w in text.LANG_PROFILES["en"]) + "]"

_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, text, {O.tokens('text')} AS tk FROM documents),
m AS (SELECT doc_id,
        CAST(len(tk) AS DOUBLE) AS n_tok,
        CAST(length(text) AS DOUBLE) AS n_chars,
        (CAST(length(text) AS DOUBLE)
           - CAST(length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE))
          / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
        len(list_filter(tk, t2 -> list_contains({_EN_STOPS}, t2)))
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS stop_ratio,
        CAST(list_sum(list_transform(tk, t2 -> length(t2))) AS DOUBLE)
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS mean_wlen
      FROM t)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       round(punct, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(mean_wlen, 6) AS mean_word_len,
       round(least(n_tok/64.0, 1.0)*0.4 + least(stop_ratio*4.0, 1.0)*0.3
             + (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 0.3 ELSE 0.0 END)
             - punct, 6) AS quality
FROM m
"""


@_q("quality_score", _QUALITY_SQL)
def quality_score(spark, sf):
    return text.quality_score(_t(spark, sf, "documents"))


def _quality_clf_sql() -> str | None:
    """Oracle for the trained-classifier quality gate: replays the
    frozen artifact's per-token weight literals (computed once at
    training time — no engine-local training or transcendental math)
    with the identical round-sum-then-add-intercept fold, left-joined
    back onto the doc spine so zero-token docs score the bare
    intercept. Same artifact guard as _lm_perplexity_sql: a
    missing/corrupt artifacts/quality_clf.json degrades this ONE query
    to the rows-only path."""
    from ..operators.text import frozen_classifier

    try:
        clf = frozen_classifier()
        rows = ",\n  ".join(
            "('" + t.replace("'", "''") + f"', {w!r})"
            for t, w in sorted(clf["weights"].items())
        )
        b = float(clf["intercept"])
        # empty weight table -> "AS (VALUES )" is broken SQL; degrade
        if not rows:
            return None
    except Exception:
        return None
    return f"""
WITH w(term, wt) AS (VALUES
  {rows}
), t AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
x AS (SELECT doc_id, unnest(tk) AS term FROM t),
s AS (SELECT x.doc_id, round(sum(coalesce(w.wt, 0.0)), 6) AS ws,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM x LEFT JOIN w USING (term)
      GROUP BY x.doc_id)
SELECT t.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       CAST({b!r} AS DOUBLE) + coalesce(s.ws, 0.0) AS logit,
       CAST({b!r} AS DOUBLE) + coalesce(s.ws, 0.0) >= 0.0 AS pred
FROM t LEFT JOIN s USING (doc_id)
"""


@_q("quality_classifier", _quality_clf_sql())
def quality_classifier(spark, sf):
    """Model-based quality scoring (round-12 verdict item 3): per-doc
    logit under the frozen trained classifier
    (artifacts/quality_clf.json, tools/train_classifier.py) — the
    FineWeb-Edu/DCLM trained-quality-signal seam: an offline teacher
    labels a slice, a cheap frozen linear student scores the whole
    corpus, the pipeline keeps the high-logit tail. The gate compares
    the logit, never the sigmoid (monotone; the lm_perplexity
    xent-not-ppl convention). operators/text.py quality_classifier."""
    return text.quality_classifier(_t(spark, sf, "documents"))


def _dedup_corpus_best_sql() -> str:
    """Oracle for quality-aware survivor selection: the same
    exact+LSH closure as _dedup_corpus_sql, but the kept member per
    cluster is the HIGHEST-quality one (Gopher-style heuristic score,
    6dp — identical literals/rounding to the quality_score gate,
    computed over the dup CORPUS), deterministic tie-break to the
    lowest doc_id. NULLS LAST is spelled explicitly so an unscored
    member sorts after every scored one on both engines."""
    return f"""
WITH RECURSIVE {_lsh_ctes()},
{_CLOSURE_CTES},
qt AS (SELECT doc_id, text, {O.tokens('text')} AS tk FROM corpus),
qm AS (SELECT doc_id,
        CAST(len(tk) AS DOUBLE) AS n_tok,
        (CAST(length(text) AS DOUBLE)
           - CAST(length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE))
          / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
        len(list_filter(tk, t2 -> list_contains({_EN_STOPS}, t2)))
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS stop_ratio,
        CAST(list_sum(list_transform(tk, t2 -> length(t2))) AS DOUBLE)
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS mean_wlen
      FROM qt),
q AS (SELECT doc_id,
       round(least(n_tok/64.0, 1.0)*0.4 + least(stop_ratio*4.0, 1.0)*0.3
             + (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 0.3 ELSE 0.0 END)
             - punct, 6) AS quality
      FROM qm),
r AS (SELECT c.doc_id, c.component_id,
             row_number() OVER (PARTITION BY c.component_id
                                ORDER BY q.quality DESC NULLS LAST,
                                         c.doc_id ASC) AS rn
      FROM closure c LEFT JOIN q USING (doc_id))
SELECT doc_id, component_id, rn = 1 AS keep FROM r
"""


@_q("dedup_corpus_best", _dedup_corpus_best_sql())
def dedup_corpus_best(spark, sf):
    """Quality-aware survivor selection in the dedup closure
    (round-12 verdict item 4): same exact+LSH transitive closure as
    dedup_corpus, but each duplicate cluster keeps its BEST member —
    highest Gopher-heuristic quality score, ties to the lowest doc_id
    (dedup.resolve_survivors; real pipelines keep the best copy, not
    the accidentally-lowest-id one). Exact-duplicate members share a
    text and therefore a score, exercising the deterministic
    tie-break; near-dup LSH clusters can promote a higher-id,
    higher-quality member over the min-id default — the behavioral
    difference is unit-pinned in tests/test_dedup.py."""
    corpus = _dup_corpus(spark, sf)
    scores = text.quality_score(corpus).select("doc_id", "quality")
    return dedup.dedup_corpus(
        corpus, survivor_scores=scores, survivor_score_col="quality"
    )


_QF_TRI = O.word_shingles("tk", 3)

_QFILTER_SQL = f"""
WITH t AS (SELECT doc_id, text, {O.tokens('text')} AS tk FROM documents),
m AS (SELECT doc_id,
        CAST(len(tk) AS DOUBLE) AS n_tok,
        (CAST(length(text) AS DOUBLE)
           - CAST(length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE))
          / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
        len(list_filter(tk, t2 -> list_contains({_EN_STOPS}, t2)))
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS stop_ratio,
        CAST(list_sum(list_transform(tk, t2 -> length(t2))) AS DOUBLE)
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS mean_wlen,
        {_QF_TRI} AS tri
      FROM t),
s AS (SELECT doc_id,
        CAST(n_tok AS BIGINT) AS n_tokens,
        round(least(n_tok/64.0, 1.0)*0.4 + least(stop_ratio*4.0, 1.0)*0.3
              + (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 0.3 ELSE 0.0 END)
              - punct, 6) AS quality,
        CASE WHEN len(tri) > 0
             THEN round((len(tri) - len(list_distinct(tri))) / CAST(len(tri) AS DOUBLE), 6)
             ELSE 0.0 END AS dup_trigram_frac
      FROM m)
SELECT doc_id, n_tokens, quality, dup_trigram_frac,
       n_tokens < 8 AS is_too_short,
       quality < 0.3 AS is_low_quality,
       dup_trigram_frac > 0.3 AS is_repetitive,
       (NOT n_tokens < 8) AND (NOT quality < 0.3) AND (NOT dup_trigram_frac > 0.3) AS keep
FROM s
"""


@_q("quality_filter", _QFILTER_SQL)
def quality_filter(spark, sf):
    return text.quality_filter(_t(spark, sf, "documents"))


def _lm_perplexity_sql() -> str | None:
    """Oracle for the CCNet-style LM quality gate: replays the frozen
    artifact's per-token log-prob literals (computed once at training
    time — no engine-local transcendental math on unshared inputs) with
    the identical round-sum-then-divide fold. Same artifact guard as
    _trained_quantizer_sql: a missing/corrupt artifacts/lm.json
    degrades this ONE query to the rows-only path."""
    from ..operators.text import frozen_lm

    try:
        lm = frozen_lm()
        # SQL-escape the terms: tokens are raw corpus words, and a
        # frequent apostrophe token ("don't") would otherwise emit an
        # unparseable VALUES literal
        rows = ",\n  ".join(
            "('" + t.replace("'", "''") + f"', {lp!r})"
            for t, lp in sorted(lm["logp"].items())
        )
        oov = float(lm["oov_logp"])
        # an artifact with an EMPTY vocab table would render
        # "AS (VALUES )" — broken SQL, not a broken-artifact degrade;
        # treat it as the degrade condition like a load failure
        if not rows:
            return None
    except Exception:
        return None
    return f"""
WITH vocab(term, lp) AS (VALUES
  {rows}
), t AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
x AS (SELECT doc_id, unnest(tk) AS term FROM t),
s AS (SELECT x.doc_id, round(sum(coalesce(v.lp, {oov!r})), 6) AS ls,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM x LEFT JOIN vocab v USING (term)
      GROUP BY x.doc_id)
SELECT doc_id, n_tokens, -ls / n_tokens AS xent FROM s
"""


def _lm_perplexity_bigram_sql() -> str | None:
    """Oracle for the conditional-bigram LM tier: same frozen-literal
    replay and artifact guard as _lm_perplexity_sql, with the pair
    table and per-context unseen mass as two extra VALUES relations.
    The first token (and any unknown context) takes the unigram
    branch, mirroring lm_cross_entropy_bigram's CASE exactly."""
    from ..operators.text import frozen_lm

    def esc(x: str) -> str:
        return x.replace("'", "''")

    try:
        lm = frozen_lm()
        uni = ",\n  ".join(
            f"('{esc(t)}', {lp!r})" for t, lp in sorted(lm["logp"].items())
        )
        ctx = ",\n  ".join(
            f"('{esc(s)}', {cu!r})"
            for s, cu in sorted(lm["ctx_unseen_logp"].items())
        )
        bi = ",\n  ".join(
            f"('{esc(k.split(' ', 1)[0])}', '{esc(k.split(' ', 1)[1])}', {lp!r})"
            for k, lp in sorted(lm["bigram_logp"].items())
        )
        oov = float(lm["oov_logp"])
        # empty vocab/ctx/bi tables would render "AS (VALUES )" —
        # broken SQL; degrade to rows-only like a load failure
        if not (uni and ctx and bi):
            return None
    except Exception:
        return None
    return f"""
WITH vocab(t, ulp) AS (VALUES
  {uni}
), ctx(s, cu) AS (VALUES
  {ctx}
), bi(s, t, blp) AS (VALUES
  {bi}
), tt AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
pr AS (SELECT doc_id, tk[i] AS t,
              CASE WHEN i > 1 THEN tk[i-1] END AS s
       FROM (SELECT doc_id, tk,
                    unnest(generate_series(1, len(tk))) AS i
             FROM tt)),
sc AS (SELECT pr.doc_id,
              CASE WHEN c.cu IS NULL THEN coalesce(v.ulp, {oov!r})
                   ELSE coalesce(b.blp, c.cu) END AS lp
       FROM pr
       LEFT JOIN vocab v ON pr.t = v.t
       LEFT JOIN ctx c ON pr.s = c.s
       LEFT JOIN bi b ON pr.s = b.s AND pr.t = b.t),
sm AS (SELECT doc_id, round(sum(lp), 6) AS ls,
              CAST(count(*) AS BIGINT) AS n_tokens
       FROM sc GROUP BY doc_id)
SELECT doc_id, n_tokens, -ls / n_tokens AS xent FROM sm
"""


@_q("lm_perplexity_bigram", _lm_perplexity_bigram_sql())
def lm_perplexity_bigram(spark, sf):
    """Conditional-bigram tier of the frozen reference LM (round 11):
    per-doc cross-entropy with word-order sensitivity — token i scores
    log p(t_i | t_{i-1}) from the frozen pair table, per-context
    unseen mass for absent pairs, unigram fallback for the first token
    and unknown contexts. A shuffled document scores measurably worse
    than the same bag of tokens in fluent order (asserted in
    tests/test_text_ops.py), which the unigram tier cannot
    distinguish. operators/text.py lm_cross_entropy_bigram."""
    return text.lm_cross_entropy_bigram(_t(spark, sf, "documents")).select(
        "doc_id", "n_tokens", "xent"
    )


_BUDGET_TOKENS = 10_000


def _select_token_budget_sql() -> str | None:
    """Oracle for the token-budget selection gate: the unigram-LM
    cross-entropy CTE (same frozen literals and artifact guard as
    _lm_perplexity_sql) ranked ascending, cut at the inclusive running
    token total — integer longs end-to-end, so the cut itself has no
    float parity hazard; the DuckDB side may use a plain global window
    (it is the ORACLE; the Spark side must not, see
    sampling.select_token_budget's scale note)."""
    from ..operators.text import frozen_lm

    try:
        lm = frozen_lm()
        rows = ",\n  ".join(
            "('" + t.replace("'", "''") + f"', {lp!r})"
            for t, lp in sorted(lm["logp"].items())
        )
        oov = float(lm["oov_logp"])
        # empty vocab table -> "AS (VALUES )" is broken SQL; degrade
        if not rows:
            return None
    except Exception:
        return None
    return f"""
WITH vocab(term, lp) AS (VALUES
  {rows}
), t AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
x AS (SELECT doc_id, unnest(tk) AS term FROM t),
s AS (SELECT x.doc_id, round(sum(coalesce(v.lp, {oov!r})), 6) AS ls,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM x LEFT JOIN vocab v USING (term)
      GROUP BY x.doc_id),
sc AS (SELECT doc_id, n_tokens, -ls / n_tokens AS xent FROM s),
w AS (SELECT doc_id, n_tokens, xent,
             sum(n_tokens) OVER (ORDER BY xent ASC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM sc)
SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens, xent
FROM w WHERE cum <= {_BUDGET_TOKENS}
"""


@_q("select_token_budget", _select_token_budget_sql())
def select_token_budget(spark, sf):
    """Token-budget data selection (round 11): rank the corpus by
    frozen-LM cross-entropy (ascending — CCNet keeps the fluent,
    low-perplexity tail) and keep the maximal prefix whose cumulative
    token count fits a global budget. The running total is
    joins.running_sum, the distributed prefix sum under pack_sequences
    too (sampling.select_token_budget) — never an unpartitioned global
    window; cum_tokens is an integer long so the cut is parity-exact.
    Reports the KEPT rows (the n_dropped>0 convention: a bare count
    cannot hollow the plan out, and the kept set IS the deliverable)."""
    from ..operators.sampling import select_token_budget as _stb

    scored = text.lm_cross_entropy(_t(spark, sf, "documents")).select(
        "doc_id", "xent", "n_tokens"
    )
    out = _stb(
        scored, _BUDGET_TOKENS, score_col="xent", ascending=True
    )
    return out.filter("keep").select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.col("score").alias("xent"),
    )


# Per-language token budgets for the grouped-selection gate — a
# DoReMi/Pile-style domain-weight recipe (en-heavy, the long tail
# floored). Sums to ~the global gate's 10k so the two selections are
# comparable in size.
_BUDGETS_BY_LANG = {"en": 4000, "de": 1600, "es": 1600, "fr": 1600, "zh": 1200}


def _select_budget_grouped_sql() -> str | None:
    """Oracle for the per-group token-budget gate: the same frozen
    unigram-LM xent CTE (and artifact guard) as _select_token_budget_sql,
    then a PER-LANGUAGE cumulative window cut at that language's budget
    (a CASE literal — the mixture recipe is metadata). DuckDB may use
    plain partitioned windows; the Spark side must not funnel a group
    through one task (sampling.select_token_budget_grouped)."""
    from ..operators.text import frozen_lm

    try:
        lm = frozen_lm()
        rows = ",\n  ".join(
            "('" + t.replace("'", "''") + f"', {lp!r})"
            for t, lp in sorted(lm["logp"].items())
        )
        oov = float(lm["oov_logp"])
        if not rows:
            return None
    except Exception:
        return None
    case = " ".join(
        f"WHEN '{g}' THEN {b}" for g, b in sorted(_BUDGETS_BY_LANG.items())
    )
    return f"""
WITH vocab(term, lp) AS (VALUES
  {rows}
), t AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
x AS (SELECT doc_id, unnest(tk) AS term FROM t),
s AS (SELECT x.doc_id, round(sum(coalesce(v.lp, {oov!r})), 6) AS ls,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM x LEFT JOIN vocab v USING (term)
      GROUP BY x.doc_id),
sc AS (SELECT s.doc_id, d.lang, s.n_tokens, -s.ls / s.n_tokens AS xent
       FROM s JOIN documents d USING (doc_id)),
w AS (SELECT doc_id, lang, n_tokens, xent,
             sum(n_tokens) OVER (PARTITION BY lang
                                 ORDER BY xent ASC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM sc)
SELECT doc_id, lang, n_tokens, CAST(cum AS BIGINT) AS cum_tokens, xent
FROM w WHERE cum <= CASE lang {case} ELSE 0 END
"""


@_q("select_budget_grouped", _select_budget_grouped_sql())
def select_budget_grouped(spark, sf):
    """Per-group token-budget selection (round-12 verdict item 4): the
    mixture form of select_token_budget — each language gets its own
    token budget (_BUDGETS_BY_LANG), the kept sets union. Within a
    group the semantics are exactly the global operator's greedy
    ranked prefix; the per-group running totals are one
    joins.running_sum grouped on lang (range-partitioned on (lang,
    rank), per-(partition, group) offsets as a broadcast local
    relation joined back) — no global window, no per-group single
    task. Reports the KEPT rows."""
    from ..operators.sampling import select_token_budget_grouped as _stbg

    docs = _t(spark, sf, "documents")
    # lang rides the scoring aggregation key (round-15, guide §2.4) —
    # the old shape re-scanned the corpus and shuffle-joined the label
    # back onto the scored frame
    scored = text.lm_cross_entropy(docs, carry_cols=["lang"]).select(
        "doc_id", "lang", "xent", "n_tokens"
    )
    out = _stbg(
        scored,
        _BUDGETS_BY_LANG,
        group_col="lang",
        score_col="xent",
        ascending=True,
    )
    return out.filter("keep").select(
        "doc_id",
        "lang",
        "n_tokens",
        "cum_tokens",
        F.col("score").alias("xent"),
    )


_CLF_BUDGET_TOKENS = 6_000


def _select_budget_classifier_sql() -> str | None:
    """Oracle for the classifier-ranked token-budget gate: the frozen
    classifier logit CTE (same weight literals and artifact guard as
    _quality_clf_sql) ranked DESCENDING (higher logit = keep first —
    the FineWeb-Edu selection direction, opposite the xent gate's
    ascending cut), cumulative token total cut at the budget. Zero-
    token docs join the ranking with the bare-intercept logit and a
    0-token cost, matching the Spark side's full-spine contract."""
    from ..operators.text import frozen_classifier

    try:
        clf = frozen_classifier()
        rows = ",\n  ".join(
            "('" + t.replace("'", "''") + f"', {w!r})"
            for t, w in sorted(clf["weights"].items())
        )
        b = float(clf["intercept"])
        if not rows:
            return None
    except Exception:
        return None
    return f"""
WITH w(term, wt) AS (VALUES
  {rows}
), t AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
x AS (SELECT doc_id, unnest(tk) AS term FROM t),
s AS (SELECT x.doc_id, round(sum(coalesce(w.wt, 0.0)), 6) AS ws,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM x LEFT JOIN w USING (term)
      GROUP BY x.doc_id),
sc AS (SELECT t.doc_id,
              coalesce(s.n_tokens, 0) AS n_tokens,
              CAST({b!r} AS DOUBLE) + coalesce(s.ws, 0.0) AS logit
       FROM t LEFT JOIN s USING (doc_id)),
cw AS (SELECT doc_id, n_tokens, logit,
             sum(n_tokens) OVER (ORDER BY logit DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM sc)
SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens, logit
FROM cw WHERE cum <= {_CLF_BUDGET_TOKENS}
"""


@_q("select_budget_classifier", _select_budget_classifier_sql())
def select_budget_classifier(spark, sf):
    """Token-budget selection ranked by the TRAINED quality classifier
    (round-12 verdict item 3, composed form): the FineWeb-Edu recipe
    end-to-end — frozen classifier scores the corpus, the kept set is
    the maximal highest-logit prefix whose cumulative token count fits
    the budget. Same distributed running-total machinery as
    select_token_budget (joins.running_sum — never a global
    window); ranking is descending (higher logit first), ties to
    doc_id. Reports the KEPT rows."""
    from ..operators.sampling import select_token_budget as _stb

    scored = text.quality_classifier(_t(spark, sf, "documents")).select(
        "doc_id", "logit", "n_tokens"
    )
    out = _stb(
        scored, _CLF_BUDGET_TOKENS, score_col="logit", ascending=False
    )
    return out.filter("keep").select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.col("score").alias("logit"),
    )


def _ccnet_buckets_sql() -> str | None:
    """Oracle for the CCNet head/middle/tail gate: the frozen unigram
    xent CTE (same literals and artifact guard as _lm_perplexity_sql),
    per-language interpolated xent terciles via quantile_cont (the
    agg_percentile parity pairing with Spark's ``percentile``, rounded
    once to 6dp), bucket by comparison."""
    from ..operators.text import frozen_lm

    try:
        lm = frozen_lm()
        rows = ",\n  ".join(
            "('" + t.replace("'", "''") + f"', {lp!r})"
            for t, lp in sorted(lm["logp"].items())
        )
        oov = float(lm["oov_logp"])
        if not rows:
            return None
    except Exception:
        return None
    return f"""
WITH vocab(term, lp) AS (VALUES
  {rows}
), t AS (SELECT doc_id, {O.tokens('text')} AS tk FROM documents),
x AS (SELECT doc_id, unnest(tk) AS term FROM t),
s AS (SELECT x.doc_id, round(sum(coalesce(v.lp, {oov!r})), 6) AS ls,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM x LEFT JOIN vocab v USING (term)
      GROUP BY x.doc_id),
sc AS (SELECT s.doc_id, d.lang, s.n_tokens, -s.ls / s.n_tokens AS xent
       FROM s JOIN documents d USING (doc_id)),
th AS (SELECT lang,
              round(quantile_cont(xent, {1/3!r}), 6) AS t1,
              round(quantile_cont(xent, {2/3!r}), 6) AS t2
       FROM sc GROUP BY lang)
SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.xent,
       CASE WHEN sc.xent <= th.t1 THEN 'head'
            WHEN sc.xent <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc JOIN th USING (lang)
"""


@_q("ccnet_buckets", _ccnet_buckets_sql())
def ccnet_buckets(spark, sf):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3 — the paper's actual corpus-partitioning mechanism): per
    LANGUAGE, split documents at the frozen-LM cross-entropy terciles;
    "head" is the fluent third CCNet trains on. Thresholds are one
    exact-percentile aggregate per language broadcast back as a hash
    join — no global window, no per-group single task
    (operators/text.py lm_quality_buckets)."""
    return text.lm_quality_buckets(_t(spark, sf, "documents"))


@_q("lm_perplexity", _lm_perplexity_sql())
def lm_perplexity(spark, sf):
    """Reference-LM quality scoring (round-11 verdict item 4): per-doc
    cross-entropy under the frozen unigram LM artifact
    (artifacts/lm.json, tools/train_lm.py) — the CCNet perplexity
    signal restated through the train/freeze/apply seam. The gate
    compares xent (nats/token; ppl = exp(xent) is derived and
    engine-local exp is not guaranteed bit-portable — same rank
    order). operators/text.py lm_cross_entropy."""
    return text.lm_cross_entropy(_t(spark, sf, "documents")).select(
        "doc_id", "n_tokens", "xent"
    )


_TOKEN_COUNT_SQL = rf"""
SELECT doc_id,
       CAST(len({O.tokens('text')}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS bpe_ish_tokens
FROM documents
"""


@_q("token_count", _TOKEN_COUNT_SQL)
def token_count(spark, sf):
    return text.token_count(_t(spark, sf, "documents"))


def _token_count_subword_sql() -> str | None:
    """Oracle for the frozen-BPE subword counts: replays the piece
    literals with a recursive-CTE greedy longest-prefix segmentation
    per DISTINCT word (the exact loop the Spark fold expression
    unrolls; the correlated max-length-prefix subquery is the longest-
    match rule, coalesce(...,1) the single-char UNK fallback).
    Artifact guard as _lm_perplexity_sql."""
    from ..operators.text import frozen_subword

    try:
        pieces = frozen_subword()["pieces"]
        rows = ",\n  ".join(
            "('" + p.replace("'", "''") + "')" for p in sorted(pieces)
        )
        if not rows:
            return None
    except Exception:
        return None
    return f"""
WITH RECURSIVE vocab(p) AS (VALUES
  {rows}
), w AS (SELECT doc_id, unnest({O.tokens('text')}) AS word FROM documents),
dw AS (SELECT DISTINCT word FROM w),
seg AS (
  SELECT word, word AS suf, 0 AS n FROM dw
  WHERE length(word) <= {text.MAX_WORD_CHARS}
  UNION ALL
  SELECT word,
         substring(suf, coalesce(
           (SELECT max(length(v.p)) FROM vocab v
            WHERE v.p = substring(suf, 1, length(v.p))), 1) + 1),
         n + 1
  FROM seg WHERE suf <> ''
),
np AS (SELECT word, max(n) AS n_pieces FROM seg WHERE suf = '' GROUP BY word
       UNION ALL
       -- overlong words count as ONE UNK piece (the WordPiece
       -- max_input_chars_per_word rule, operators/text.py)
       SELECT word, 1 AS n_pieces FROM dw
       WHERE length(word) > {text.MAX_WORD_CHARS}),
counts AS (SELECT w.doc_id,
                  CAST(count(*) AS BIGINT) AS n_words,
                  CAST(sum(np.n_pieces) AS BIGINT) AS n_subword_tokens
           FROM w JOIN np USING (word)
           GROUP BY w.doc_id)
SELECT d.doc_id,
       coalesce(c.n_words, 0) AS n_words,
       coalesce(c.n_subword_tokens, 0) AS n_subword_tokens
FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id
"""


@_q("token_count_subword", _token_count_subword_sql())
def token_count_subword(spark, sf):
    """Tokenizer-calibrated token counts under the frozen BPE
    vocabulary (tools/train_subword.py; round-14 verdict missing item
    4): greedy longest-prefix segmentation as ONE narrow fold
    expression evaluated per DISTINCT word (segmentation is a
    vocabulary-sized dimension, never a per-token cost), counts joined
    back and summed per doc (operators/text.py token_count_subword)."""
    return text.token_count_subword(_t(spark, sf, "documents"))


_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({O.tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, tok_start,
       tok_start // 256 AS seq_first,
       (tok_start + greatest(n_tokens, 1) - 1) // 256 AS seq_last,
       (tok_start + greatest(n_tokens, 1) - 1) // 256
         - tok_start // 256 AS n_splits,
       tok_start % 256 AS seq_offset
FROM c
"""


_PACK_PIECES_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({O.tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM t
), p AS (
  SELECT doc_id, n_tokens, tok_start,
         tok_start // 256 AS seq_first,
         (tok_start + n_tokens - 1) // 256 AS seq_last
  FROM c WHERE n_tokens > 0
)
SELECT doc_id, n_tokens, tok_start,
       CAST(s.seq_id AS BIGINT) AS seq_id,
       CAST(greatest(s.seq_id * 256 - tok_start, 0) AS BIGINT) AS piece_start,
       CAST(least((s.seq_id + 1) * 256 - tok_start, n_tokens)
            - greatest(s.seq_id * 256 - tok_start, 0) AS BIGINT) AS piece_len,
       CAST(tok_start + greatest(s.seq_id * 256 - tok_start, 0)
            - s.seq_id * 256 AS BIGINT) AS piece_pos
FROM p CROSS JOIN unnest(generate_series(p.seq_first, p.seq_last)) AS s(seq_id)
"""


@_q("pack_pieces", _PACK_PIECES_SQL)
def pack_pieces_query(spark, sf):
    """Per-sequence piece map (the random-access loader's view of the
    packed stream): every (training sequence, document slice) pair with
    slice bounds in doc coordinates and the slice's position within the
    sequence. Spark side is a narrow explode over pack_sequences
    coordinates — no shuffle beyond the packing pass itself."""
    from ..operators.packing import pack_pieces, pack_sequences

    toks = text.token_count(_t(spark, sf, "documents")).select(
        "doc_id", F.col("ws_tokens").alias("n_tokens")
    )
    packed = pack_sequences(
        toks, tokens_col="n_tokens", seq_len=256, order_cols=["doc_id"]
    )
    return pack_pieces(packed, tokens_col="n_tokens", seq_len=256)


@_q("pack_sequences", _PACK_SQL)
def pack_sequences_query(spark, sf):
    """GPT-style concat-and-chunk sequence packing coordinates over the
    documents corpus (whitespace token counts, seq_len=256 so the
    oracle exercises many boundaries and straddling docs at sf0.01).
    The Spark side is the distributed prefix-offset implementation
    (operators/packing.py — range exchange + per-partition running
    sums, no single-partition window); the oracle is the single-window
    SQL definition."""
    from ..operators.packing import pack_sequences

    toks = text.token_count(_t(spark, sf, "documents")).select(
        "doc_id", F.col("ws_tokens").alias("n_tokens")
    )
    return pack_sequences(
        toks, tokens_col="n_tokens", seq_len=256, order_cols=["doc_id"]
    )


_PACK_ASSEMBLY_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({O.tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM t
), p AS (
  SELECT doc_id, n_tokens, tok_start,
         tok_start // 256 AS seq_first,
         (tok_start + n_tokens - 1) // 256 AS seq_last
  FROM c WHERE n_tokens > 0
), pieces AS (
  SELECT CAST(s.seq_id AS BIGINT) AS seq_id,
         doc_id,
         CAST(greatest(s.seq_id * 256 - tok_start, 0) AS BIGINT)
           AS piece_start,
         CAST(least((s.seq_id + 1) * 256 - tok_start, n_tokens)
              - greatest(s.seq_id * 256 - tok_start, 0) AS BIGINT)
           AS piece_len,
         CAST(tok_start + greatest(s.seq_id * 256 - tok_start, 0)
              - s.seq_id * 256 AS BIGINT) AS piece_pos
  FROM p
  CROSS JOIN unnest(generate_series(p.seq_first, p.seq_last)) AS s(seq_id)
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_pieces,
       CAST(sum(piece_len) AS BIGINT) AS seq_tokens,
       string_agg(printf('%03d@%d:%d+%d',
                         piece_pos, doc_id, piece_start, piece_len),
                  '|' ORDER BY piece_pos) AS assembly
FROM pieces
GROUP BY seq_id
"""


@_q("pack_assembly", _PACK_ASSEMBLY_SQL)
def pack_assembly(spark, sf):
    """Loader-side sequence assembly: the ONE shuffle the random-access
    data loader pays — group the pack_pieces piece map by training
    sequence and emit ordered assembly instructions
    ('pos@doc:start+len' slices, '|'-joined in piece_pos order; the
    %03d pad makes lexical sort_array order == numeric piece_pos order
    since piece_pos < seq_len=256). Closes the packing loop promised in
    operators/packing.py: coordinates (pack_sequences) -> piece map
    (pack_pieces, narrow) -> per-sequence instructions (this query, one
    Exchange on seq_id). n_pieces/seq_tokens make truncated or
    double-counted slices hash-visible."""
    from ..operators.packing import pack_pieces, pack_sequences

    toks = text.token_count(_t(spark, sf, "documents")).select(
        "doc_id", F.col("ws_tokens").alias("n_tokens")
    )
    pieces = pack_pieces(
        pack_sequences(
            toks, tokens_col="n_tokens", seq_len=256, order_cols=["doc_id"]
        ),
        tokens_col="n_tokens",
        seq_len=256,
    )
    return pieces.groupBy("seq_id").agg(
        F.count("*").alias("n_pieces"),
        F.sum("piece_len").alias("seq_tokens"),
        F.concat_ws(
            "|",
            F.sort_array(
                F.collect_list(
                    F.format_string(
                        "%03d@%d:%d+%d",
                        F.col("piece_pos"),
                        F.col("doc_id"),
                        F.col("piece_start"),
                        F.col("piece_len"),
                    )
                )
            ),
        ).alias("assembly"),
    )


_FP_SQL = f"""
WITH t AS (SELECT doc_id, trim(text) AS tt, {_HS} AS hs FROM documents)
SELECT doc_id,
       coalesce(list_min(hs), {O.md5_long('tt')}) AS fp_min,
       coalesce(list_max(hs), {O.md5_long('tt')}) AS fp_max
FROM t
"""


@_q("doc_fingerprint", _FP_SQL)
def doc_fingerprint(spark, sf):
    return text.doc_fingerprint(_t(spark, sf, "documents"))


_CHUNK_SQL = r"""
WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tk
           FROM documents),
t2 AS (SELECT * FROM t WHERE len(tk) > 0),
c AS (SELECT doc_id,
             unnest(generate_series(0, CAST(floor((len(tk)-1)/32) AS INT))) AS chunk_idx,
             tk
      FROM t2),
x AS (SELECT doc_id, chunk_idx,
             array_to_string(tk[chunk_idx*32+1 : chunk_idx*32+32], ' ') AS chunk_text
      FROM c)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text,
       CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_words
FROM x
"""


@_q("chunk_documents", _CHUNK_SQL)
def chunk_documents(spark, sf):
    return text.chunk_text(_t(spark, sf, "documents"))


_CHUNK_DEDUP_SQL = r"""
WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tk
           FROM documents),
t2 AS (SELECT * FROM t WHERE len(tk) > 0),
c AS (SELECT doc_id,
             unnest(generate_series(0, CAST(floor((len(tk)-1)/32) AS INT))) AS chunk_idx,
             tk
      FROM t2),
x AS (SELECT doc_id, chunk_idx,
             array_to_string(tk[chunk_idx*32+1 : chunk_idx*32+32], ' ') AS chunk_text
      FROM c),
d AS (SELECT doc_id, chunk_idx, chunk_text,
             row_number() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM x),
g AS (SELECT doc_id,
       coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                FILTER (WHERE rn = 1), '') AS text_dedup,
       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_chunks_kept,
       CAST(count(*) AS BIGINT) AS n_chunks_orig
FROM d GROUP BY doc_id)
SELECT s.doc_id,
       coalesce(g.text_dedup, '') AS text_dedup,
       coalesce(g.n_chunks_kept, 0) AS n_chunks_kept,
       coalesce(g.n_chunks_orig, 0) AS n_chunks_orig
FROM (SELECT DISTINCT doc_id FROM documents) s
LEFT JOIN g USING (doc_id)
"""


@_q("dedup_chunks", _CHUNK_DEDUP_SQL)
def dedup_chunks(spark, sf):
    # sub-document boilerplate removal: first occurrence of each
    # distinct 32-word chunk survives, docs reassembled from survivors
    return dedup.chunk_dedup(_t(spark, sf, "documents"))


# =====================================================================
# Multimodal surface (binary columns + Arrow-batched mapInPandas)
# =====================================================================

@_q(
    "multimodal_features",
    """SELECT doc_id AS media_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS digest
       FROM documents""",
)
def multimodal_features(spark, sf):
    # Puts the mapInPandas multimodal plumbing (ml.multimodal) on the
    # oracle-checked path: text bytes stand in for media blobs; the
    # byte-level digest/size must match DuckDB's over the same bytes.
    from ..ml.multimodal import extract_features

    media = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("double").alias("duration_s"),
    )
    return extract_features(media).select("media_id", "n_bytes", "digest")


# Perceptual-hash near-dup (round-14 verdict item 5): the gate covers
# the SQL half — banded Hamming blocking + exact bit_count rerank over
# a precomputed 64-bit hash column (deterministically synthesized here
# so DuckDB can replay it; decoding images into hashes is outside the
# package). Synth plants clusters (doc_id % 37) with per-doc bit
# flips (doc_id % 5) spanning distances 0..12, including one pair
# class at EXACTLY the max_distance boundary and classes beyond it.
_PHASH_GROUPS = 37
_PHASH_MASKS = [0, 1, 6, (1 << 10) + (1 << 20) + (1 << 30), 1022]
_PHASH_MAXD = 7


def _phash_mask_case() -> str:
    return (
        "CASE CAST(doc_id % 5 AS INT) "
        + " ".join(f"WHEN {i} THEN {m}" for i, m in enumerate(_PHASH_MASKS[:-1]))
        + f" ELSE {_PHASH_MASKS[-1]} END"
    )


def _dedup_image_phash_sql() -> str:
    # doc_id < 500: cluster size (and with it the candidate-pair
    # count) is a function of corpus_size / _PHASH_GROUPS, so an
    # unbounded synth would grow the gate's work QUADRATICALLY with
    # sf. The fixed slice keeps the gate constant-cost at every sf
    # (the dedup_ngram_jaccard doc_id<40 precedent); unbounded-scale
    # behavior is measured by the phash_hot_bucket probe instead.
    base = O.md5_long(f"'g' || CAST(doc_id % {_PHASH_GROUPS} AS VARCHAR)")
    return f"""
WITH h AS (SELECT doc_id,
                  xor({base}, {_phash_mask_case()}) AS phash
           FROM documents WHERE doc_id < 500)
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS distance
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_MAXD}
"""


@_q("dedup_image_phash", _dedup_image_phash_sql())
def dedup_image_phash(spark, sf):
    """Perceptual-hash image near-dup pairs: banded Hamming blocking
    (8 bands of 8 bits, grouped-bucket expansion — the
    lsh_candidate_pairs shape) + exact bit_count(xor) rerank, provably
    equal to the all-pairs filter for max_distance < n_bands
    (pigeonhole), which is exactly what the oracle computes
    (operators/dedup.py phash_near_dup_pairs)."""
    from ..functions.hashing import md5_long_sql

    base = F.expr(
        md5_long_sql(f"concat('g', CAST(doc_id % {_PHASH_GROUPS} AS STRING))")
    )
    noise = (F.col("doc_id") % 5).cast("int")
    mask = F.when(noise == 0, F.lit(_PHASH_MASKS[0]).cast("long"))
    for i, m in enumerate(_PHASH_MASKS[1:-1], start=1):
        mask = mask.when(noise == i, F.lit(m).cast("long"))
    mask = mask.otherwise(F.lit(_PHASH_MASKS[-1]).cast("long"))
    hashes = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 500)  # constant-cost synth, see oracle
        .select(
            F.col("doc_id").alias("media_id"),
            base.bitwiseXOR(mask).alias("phash"),
        )
    )
    return dedup.phash_near_dup_pairs(hashes, max_distance=_PHASH_MAXD)


# =====================================================================
# S10: artifact-existence probe
# =====================================================================

_ARTIFACT_SQL = r"""
WITH expected AS (
  SELECT doc_id, 'audio/' || CAST(doc_id AS VARCHAR) || '.webm' AS path
  FROM documents
), derived AS (
  SELECT doc_id,
         regexp_replace(path, '\.[^./]+$', '') || '.json' AS artifact_path
  FROM expected
), inv AS (
  SELECT 'audio/' || CAST(doc_id AS VARCHAR) || '.json' AS path
  FROM documents WHERE doc_id % 3 = 0
)
SELECT d.doc_id, d.artifact_path
FROM derived d
WHERE NOT EXISTS (SELECT 1 FROM inv WHERE inv.path = d.artifact_path)
"""


@_q("artifact_probe", _ARTIFACT_SQL)
def artifact_probe(spark, sf):
    # S10 (reference src/main.py:81-83): which inputs still lack their
    # derived sibling artifact — one anti join vs the inventory listing,
    # not a per-file exists() loop
    from ..sources.probe import derive_artifact, probe_artifacts

    docs = _t(spark, sf, "documents").select("doc_id")
    expected = derive_artifact(
        docs.withColumn(
            "path",
            F.concat(F.lit("audio/"), F.col("doc_id").cast("string"), F.lit(".webm")),
        ),
        "path",
        ".json",
    )
    inv = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(
            F.lit("audio/"), F.col("doc_id").cast("string"), F.lit(".json")
        ).alias("path")
    )
    _present, missing = probe_artifacts(
        expected.select("doc_id", "artifact_path"), inv
    )
    return missing.select("doc_id", "artifact_path")


# =====================================================================
# Data-mixing / text-hygiene surface
# =====================================================================

_MIX_RATES = {"click": 0.5, "view": 0.25, "purchase": 1.0}  # error: dropped

# thresholds quantized to integers in Python (sampling.quantize) so the
# oracle compares against the same literals as the Spark plan — no
# engine-specific float->int rounding on either side
_SAMPLE_SQL = f"""
SELECT event_id, event_type FROM events
WHERE ({O.md5_long("'7' || ':' || event_type || ':' || CAST(event_id AS VARCHAR)")}) % 1000000
      < (CASE event_type {' '.join(
          f"WHEN '{k}' THEN {sampling.quantize(v)}" for k, v in sorted(_MIX_RATES.items())
      )} ELSE 0 END)
"""


@_q("sample_stratified", _SAMPLE_SQL)
def sample_stratified(spark, sf):
    ev = _t(spark, sf, "events")
    out = sampling.sample_stratified(ev, "event_type", "event_id", _MIX_RATES, seed=7)
    return out.select("event_id", "event_type")


_REP_T1 = O.tokens("text")
_REP_SQL = f"""
WITH t AS (SELECT doc_id, {_REP_T1} AS t1,
                  {O.word_shingles(_REP_T1, 2)} AS t2,
                  {O.word_shingles(_REP_T1, 3)} AS t3
           FROM documents)
SELECT doc_id,
  CASE WHEN len(t1) > 0 THEN round((len(t1) - len(list_distinct(t1))) / CAST(len(t1) AS DOUBLE), 6) ELSE 0.0 END AS dup_unigram_frac,
  CASE WHEN len(t2) > 0 THEN round((len(t2) - len(list_distinct(t2))) / CAST(len(t2) AS DOUBLE), 6) ELSE 0.0 END AS dup_bigram_frac,
  CASE WHEN len(t3) > 0 THEN round((len(t3) - len(list_distinct(t3))) / CAST(len(t3) AS DOUBLE), 6) ELSE 0.0 END AS dup_trigram_frac
FROM t
"""


@_q("repetition_metrics", _REP_SQL)
def repetition_metrics(spark, sf):
    return text.repetition_metrics(_t(spark, sf, "documents"))


_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or "
    "+1 (555) 010-' || CAST(doc_id AS VARCHAR) || ' at 10.0.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR)"
)

# counts mirror the operator's sequential semantics: emails counted on
# the original text, IPs on the email-scrubbed text, phones on the
# IP-scrubbed text — counts equal actual replacements
_PII_SQL = rf"""
WITH w AS (SELECT doc_id, text || {_PII_SUFFIX_SQL} AS t0 FROM documents),
s1 AS (SELECT doc_id, t0,
              regexp_replace(t0, '{text.PII_EMAIL}', '<EMAIL>', 'g') AS t1 FROM w),
s2 AS (SELECT doc_id, t0, t1,
              regexp_replace(t1, '{text.PII_IPV4}', '<IP>', 'g') AS t2 FROM s1)
SELECT doc_id,
       regexp_replace(t2, '{text.PII_PHONE}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(t0, '{text.PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t1, '{text.PII_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t2, '{text.PII_PHONE}')) AS BIGINT) AS n_phones
FROM s2
"""


@_q("pii_scrub", _PII_SQL)
def pii_scrub(spark, sf):
    docs = _t(spark, sf, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.col("doc_id").cast("string"),
            F.lit(" at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return text.pii_scrub(with_pii)


# =====================================================================
# Lexical retrieval surface (TF-IDF / BM25 / hybrid fusion)
# =====================================================================

_TOKS = O.tokens("text")

_TFIDF_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
terms AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tk) AS term FROM t)
  GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM terms GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * ln(CAST(n_docs AS DOUBLE) / df_t), 6) AS tfidf
  FROM terms JOIN dft USING (term) CROSS JOIN n
),
r AS (SELECT doc_id, term, tf, tfidf,
             CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
             ) AS BIGINT) AS term_rank
      FROM scored)
SELECT doc_id, term, tf, tfidf, term_rank FROM r WHERE term_rank <= 5
"""


@_q("tfidf_top_terms", _TFIDF_SQL)
def tfidf_top_terms(spark, sf):
    return retrieval.tfidf_top_terms(_t(spark, sf, "documents"), k=5)


_BM25_TERMS = ["spark", "join", "vector"]


def _bm25_cte(terms: list[str], k1: float, b: float) -> str:
    """Shared BM25 CTE chain (ends in a `bm25` relation of
    (doc_id, score)). Arithmetic fold order and literal doubles mirror
    operators/retrieval.py::bm25_search exactly (repr round-trips)."""
    in_list = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
matched AS (
  SELECT doc_id, dl, term
  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
  WHERE term IN ({in_list})
),
tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       FROM matched GROUP BY doc_id, dl, term),
dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_t
        FROM tf GROUP BY term),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
  FROM toks
),
per_term AS (
  SELECT doc_id,
         (ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
          * (tf * {k1 + 1.0!r}))
         / (tf + {k1!r} * ({1.0 - b!r} + ({b!r} * dl) / avgdl)) AS s
  FROM tf JOIN dft USING (term) CROSS JOIN stats
),
bm25 AS (SELECT doc_id, round(sum(s), 6) AS score FROM per_term GROUP BY doc_id)
"""


_BM25_SQL = f"""
WITH {_bm25_cte(_BM25_TERMS, retrieval.BM25_K1, retrieval.BM25_B)}
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
FROM bm25 ORDER BY score DESC, doc_id ASC LIMIT 20
"""


@_q("bm25_search", _BM25_SQL)
def bm25_search(spark, sf):
    return retrieval.bm25_search(
        _t(spark, sf, "documents"), _BM25_TERMS, topk=20
    )


# Dense side reuses the knn cosine fold (bit-identical across engines,
# see _KNN_SQL); doc_id ≡ vec_id in the synthetic corpus.
_HYBRID_SQL = f"""
WITH {_bm25_cte(_BM25_TERMS, retrieval.BM25_K1, retrieval.BM25_B)},
bm_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM bm25 QUALIFY rank <= 20
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sims AS (SELECT vec_id AS doc_id, {O.cosine('qv', 'embedding')} AS sim
         FROM embeddings CROSS JOIN q),
dense_rank_t AS (
  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS rank
  FROM sims QUALIFY rank <= 20
),
contribs AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM dense_rank_t
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM bm_rank
),
fused AS (SELECT doc_id, round(sum(c), 6) AS rrf FROM contribs GROUP BY doc_id)
SELECT doc_id, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20
"""


@_q("hybrid_rrf", _HYBRID_SQL)
def hybrid_rrf(spark, sf):
    from ..operators.pinning import build_all

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # build_all: the two ranking sides are independent corpus passes
    # (dense: embeddings scan + cosine; sparse: documents tokenize +
    # BM25 proxy). bm25_search pins internally, so its jobs fire at
    # CALL time — composing the sides sequentially serializes them
    # (guide §2.6); building on the pool overlaps the passes. Results
    # identical: pins never change rows, rrf_fuse sees the same two
    # top-20 frames.
    dense, bm = build_all(
        lambda: vectors.knn_topk(q, emb, k=20).select(
            F.col("vec_id").alias("doc_id"), "rank"
        ),
        lambda: retrieval.bm25_search(
            _t(spark, sf, "documents"), _BM25_TERMS, topk=20
        ).select("doc_id", "rank"),
    )
    return retrieval.rrf_fuse([dense, bm], topk=20)


_NGRAM_SQL = f"""
WITH t AS (SELECT {_TOKS} AS tk FROM documents),
g AS (SELECT unnest({O.word_shingles('tk', 2)}) AS gram FROM t)
SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY gram
ORDER BY n_occurrences DESC, gram ASC LIMIT 20
"""


@_q("ngram_topk", _NGRAM_SQL)
def ngram_topk(spark, sf):
    return text.ngram_topk(_t(spark, sf, "documents"), n=2, k=20)


_CORPUS_STATS_SQL = f"""
WITH t AS (SELECT lang, len({_TOKS}) AS nt, length(text) AS nc FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS total_chars,
       round(avg(nt), 6) AS mean_tokens,
       round(quantile_cont(nt, 0.5), 6) AS p50_tokens,
       round(quantile_cont(nt, 0.9), 6) AS p90_tokens
FROM t GROUP BY lang
"""


@_q("corpus_stats", _CORPUS_STATS_SQL)
def corpus_stats(spark, sf):
    return text.corpus_stats(_t(spark, sf, "documents"))


# fold over the SORTED distinct-token list on both engines -> identical
# accumulation order -> bit-identical entropy (no rounding slack needed
# beyond the display round)
_ENTROPY_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
u AS (SELECT doc_id, tk, list_sort(list_distinct(tk)) AS uq FROM t)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(uq) AS BIGINT) AS n_distinct,
       CASE WHEN len(tk) > 0 THEN round(
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(uq, w ->
               -((CAST(len(list_filter(tk, x -> x = w)) AS DOUBLE) / len(tk))
                 * ln(CAST(len(list_filter(tk, x -> x = w)) AS DOUBLE) / len(tk))))),
           (a, b) -> a + b), 6)
       ELSE 0.0 END AS entropy
FROM u
"""


@_q("vocab_entropy", _ENTROPY_SQL)
def vocab_entropy(spark, sf):
    return text.vocab_entropy(_t(spark, sf, "documents"))


# =====================================================================
# Split assignment / corpus mixing
# =====================================================================

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = 11

_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN bucket < {sampling.quantize(0.8)} THEN 'train'
            WHEN bucket < {sampling.quantize(0.8) + sampling.quantize(0.1)} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ({O.md5_long(f"'{_SPLIT_SEED}' || ':' || CAST(doc_id AS VARCHAR)")}) % {sampling.RESOLUTION} AS bucket
      FROM documents)
"""


@_q("assign_split", _SPLIT_SQL)
def assign_split(spark, sf):
    docs = _t(spark, sf, "documents").select("doc_id")
    return sampling.assign_split(docs, "doc_id", _SPLITS, seed=_SPLIT_SEED)


_MIX_REPORT_SQL = f"""
WITH s AS ({_SPLIT_SQL})
SELECT d.source, s.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({O.tokens('d.text')})) AS BIGINT) AS total_tokens,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
FROM documents d JOIN s ON s.doc_id = d.doc_id
GROUP BY 1, 2
"""


@_q("mix_report", _MIX_REPORT_SQL)
def mix_report(spark, sf):
    """Mixture bookkeeping: docs / whitespace tokens / chars per
    (source, split) cell — the accounting table every training-data
    mixture decision reads (are the splits source-balanced? how many
    tokens does each domain contribute per split?). All-integer output
    (no cross-engine float edge). Spark side is ONE corpus scan: the
    token count and the hash-derived split label are narrow projections
    on the same pass, then a map-side-combined agg shuffles only the
    |sources| x |splits| cells — no join, unlike the oracle's two-pass
    SQL formulation."""
    from ..functions.hashing import tokens_sql

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id",
        "source",
        "n_chars",
        f"CAST(size({tokens_sql('text')}) AS BIGINT) AS ws_tokens",
    )
    labeled = sampling.assign_split(docs, "doc_id", _SPLITS, seed=_SPLIT_SEED)
    return labeled.groupBy("source", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


_MIX_SEED = 5
_MIX_CORPORA_RATES = {"a": 0.6, "b": 0.3}


def _mix_member_sql(name: str, parity: int, rate: float) -> str:
    h = O.md5_long(f"'{_MIX_SEED}' || ':' || '{name}' || ':' || CAST(doc_id AS VARCHAR)")
    return (
        f"SELECT doc_id, '{name}' AS source_name FROM documents "
        f"WHERE doc_id % 2 = {parity} "
        f"AND ({h}) % {sampling.RESOLUTION} < {sampling.quantize(rate)}"
    )


_MIXC_SQL = (
    _mix_member_sql("a", 0, _MIX_CORPORA_RATES["a"])
    + "\nUNION ALL\n"
    + _mix_member_sql("b", 1, _MIX_CORPORA_RATES["b"])
)


@_q("mix_corpora", _MIXC_SQL)
def mix_corpora(spark, sf):
    docs = _t(spark, sf, "documents").select("doc_id")
    corpora = {
        "a": (docs.filter(F.col("doc_id") % 2 == 0), _MIX_CORPORA_RATES["a"]),
        "b": (docs.filter(F.col("doc_id") % 2 == 1), _MIX_CORPORA_RATES["b"]),
    }
    return sampling.mix_corpora(corpora, "doc_id", seed=_MIX_SEED)


# =====================================================================
# Rank-family windows (rank / dense_rank / ntile / percent_rank)
# =====================================================================

# Two window specs: `wu` is a total order (unique tie-break) so ntile's
# bucket boundaries are deterministic; `wt` deliberately has ties
# (year granularity) to exercise true rank/dense_rank gap semantics —
# tie-safe because peers share the rank value regardless of row order.
_WRANK_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(rank() OVER wt AS BIGINT) AS yr_rank,
       CAST(dense_rank() OVER wt AS BIGINT) AS yr_dense_rank,
       CAST(ntile(4) OVER wu AS INT) AS price_quartile,
       percent_rank() OVER wu AS price_pct_rank
FROM orders
WINDOW
  wt AS (PARTITION BY o_orderpriority ORDER BY year(o_orderdate)),
  wu AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


@_q("window_rank", _WRANK_SQL)
def window_rank(spark, sf):
    orders = _t(spark, sf, "orders")
    wt = Window.partitionBy("o_orderpriority").orderBy(F.year("o_orderdate"))
    wu = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(wt).cast("long").alias("yr_rank"),
        F.dense_rank().over(wt).cast("long").alias("yr_dense_rank"),
        F.ntile(4).over(wu).cast("int").alias("price_quartile"),
        F.percent_rank().over(wu).alias("price_pct_rank"),
    )


def _prepare_corpus_sql() -> str:
    """Oracle for the end-to-end prepare_corpus composition: Gopher
    quality filter -> whitespace/case canonicalization -> exact+LSH
    dedup closure over the quality-passing normalized docs -> hash-line
    split for the final keeps. Every fragment reuses the already-proven
    oracle pieces (quality CTEs, _lsh_ctes with an overridden corpus,
    _CLOSURE_CTES, the split CASE) over the doubled test corpus."""
    raw0 = """raw0 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 25
)"""
    corpus_override = """corpus AS (
  SELECT n.doc_id, n.text FROM normc n JOIN qual q USING (doc_id)
  WHERE q.keep_quality
)"""
    t1 = sampling.quantize(0.9)
    t2 = t1 + sampling.quantize(0.05)
    hash_input = "'13' || ':' || CAST(r.doc_id AS VARCHAR)"
    bucket = f"({O.md5_long(hash_input)}) % {sampling.RESOLUTION}"
    return f"""
WITH RECURSIVE {raw0},
qt AS (SELECT doc_id, text, {O.tokens('text')} AS tk FROM raw0),
qm AS (SELECT doc_id,
        CAST(len(tk) AS DOUBLE) AS n_tok,
        (CAST(length(text) AS DOUBLE)
           - CAST(length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE))
          / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
        len(list_filter(tk, t2 -> list_contains({_EN_STOPS}, t2)))
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS stop_ratio,
        CAST(list_sum(list_transform(tk, t2 -> length(t2))) AS DOUBLE)
          / CAST(greatest(len(tk), 1) AS DOUBLE) AS mean_wlen,
        {_QF_TRI} AS tri
      FROM qt),
qs AS (SELECT doc_id,
        CAST(n_tok AS BIGINT) AS n_tokens,
        round(least(n_tok/64.0, 1.0)*0.4 + least(stop_ratio*4.0, 1.0)*0.3
              + (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 0.3 ELSE 0.0 END)
              - punct, 6) AS quality,
        CASE WHEN len(tri) > 0
             THEN round((len(tri) - len(list_distinct(tri))) / CAST(len(tri) AS DOUBLE), 6)
             ELSE 0.0 END AS dup3
      FROM qm),
qual AS (SELECT doc_id,
                (NOT n_tokens < 8) AND (NOT quality < 0.3) AND (NOT dup3 > 0.3)
                  AS keep_quality
         FROM qs),
normc AS (SELECT doc_id,
                 trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text
          FROM raw0),
{_lsh_ctes(corpus_override)},
{_CLOSURE_CTES}
SELECT r.doc_id,
       q.keep_quality,
       c.component_id,
       c.keep AS keep_dedup,
       (q.keep_quality AND coalesce(c.keep, false)) AS keep,
       CASE WHEN q.keep_quality AND coalesce(c.keep, false)
            THEN (CASE WHEN {bucket} < {t1} THEN 'train'
                       WHEN {bucket} < {t2} THEN 'val'
                       ELSE 'test' END)
            ELSE NULL END AS split
FROM raw0 r
JOIN qual q USING (doc_id)
LEFT JOIN closure c USING (doc_id)
"""


@_q("prepare_corpus", _prepare_corpus_sql())
def prepare_corpus(spark, sf):
    from . import pipeline

    return pipeline.prepare_corpus(
        _dup_corpus(spark, sf),
        splits={"train": 0.9, "val": 0.05, "test": 0.05},
        seed=13,
    )


# lead/lag adjacency — SURVEY §2.5 notes the reference has no lookahead;
# this rounds out the ordered-operator family (pure value transport, no
# float arithmetic, so parity is structural). Deterministic total order
# per user via the (ts, event_id) tie-break.
_WLEADLAG_SQL = """
SELECT user_id, event_id, ts, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       lag(ts)     OVER w AS prev_ts
FROM events
WHERE user_id < 100
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@_q("window_lead_lag", _WLEADLAG_SQL)
def window_lead_lag(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("ts").over(w).alias("prev_ts"),
    )


# first/last/nth value transport under an explicit ROWS frame (the
# default RANGE frame makes last_value degenerate to the current row —
# the explicit full-partition frame is the portable, intended spelling)
_WFIRSTLAST_SQL = """
SELECT user_id, event_id,
       first_value(value) OVER w AS first_val,
       last_value(value)  OVER w AS last_val,
       nth_value(value, 3) OVER w AS third_val
FROM events
WHERE user_id < 100
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@_q("window_first_last", _WFIRSTLAST_SQL)
def window_first_last(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 100)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 3).over(w).alias("third_val"),
    )


# moment statistics — stddev/variance (sample), correlation and
# covariance across two measures; cross-partition float folds rounded
# to 4 decimals on both sides (sums of squares amplify last-ulp noise
# more than plain sums, so 6 is too tight here)
_AGG_STATS_SQL = """
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 4) AS sd_qty,
       round(var_samp(l_quantity), 4) AS var_qty,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
FROM lineitem GROUP BY l_returnflag
"""


@_q("agg_stats", _AGG_STATS_SQL)
def agg_stats(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "cov_qty_price"
        ),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
    )


# pivot: event counts per user spread into one column per event type.
# The value list is EXPLICIT on both sides — Spark's implicit-pivot
# variant runs a hidden distinct job to discover it, and the oracle
# spells the same conditional aggregation DuckDB-portably.
_PIVOT_TYPES = ["click", "error", "purchase", "view"]

_PIVOT_SQL = f"""
SELECT user_id,
       {', '.join(
           f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
           for t in _PIVOT_TYPES
       )}
FROM events WHERE user_id < 200
GROUP BY user_id
"""


@_q("agg_pivot", _PIVOT_SQL)
def agg_pivot(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 200)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (user, type) group is empty; the
    # conditional-aggregation oracle yields 0 — normalize to 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _PIVOT_TYPES],
    )


# unpivot (melt): wide per-doc metric columns back to (doc_id, metric,
# value) rows — Spark's unpivot vs a portable UNION ALL oracle
_UNPIVOT_SQL = """
SELECT doc_id, 'n_chars' AS metric, CAST(n_chars AS DOUBLE) AS value FROM documents
UNION ALL
SELECT doc_id, 'doc_id_echo' AS metric, CAST(doc_id AS DOUBLE) AS value FROM documents
"""


@_q("unpivot_melt", _UNPIVOT_SQL)
def unpivot_melt(spark, sf):
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars"),
        F.col("doc_id").cast("double").alias("doc_id_echo"),
    )
    return docs.unpivot(
        ["doc_id"], ["n_chars", "doc_id_echo"], "metric", "value"
    )


# bucketed interval join: each user's first half-hour of activity. The
# oracle states the plain theta join; the Spark side MUST produce the
# same rows through the bucketed equi-join formulation (operators.joins
# .interval_join) — the theta predicate alone would plan as a
# BroadcastNestedLoopJoin.
_INTERVAL_SQL = """
WITH iv AS (
  SELECT user_id, min(ts) AS lo, min(ts) + INTERVAL 30 MINUTE AS hi
  FROM events WHERE user_id < 50 GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.ts, iv.lo, iv.hi
FROM events e
JOIN iv ON e.user_id = iv.user_id AND e.ts >= iv.lo AND e.ts < iv.hi
WHERE e.user_id < 50
"""


@_q("join_interval", _INTERVAL_SQL)
def join_interval(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 50)
    iv = ev.groupBy("user_id").agg(F.min("ts").alias("lo"))
    iv = iv.withColumn("hi", F.col("lo") + F.expr("INTERVAL 30 MINUTES"))
    out = joins.interval_join(
        ev.select("event_id", "user_id", "ts"),
        iv,
        t_col="ts",
        lo_col="lo",
        hi_col="hi",
        keys=["user_id"],
        bucket_seconds=600,
    )
    return out.select("event_id", "user_id", "ts", "lo", "hi")


# deterministic mode: most frequent value per group with an explicit
# lexicographic tie-break — engines' native mode() picks an arbitrary
# peer on ties, which can never hash-match across engines
_MODE_SQL = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE user_id < 200 GROUP BY user_id, event_type
),
r AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
  FROM c
)
SELECT user_id, event_type AS mode_event_type, n AS n_occurrences
FROM r WHERE rn = 1
"""


@_q("agg_mode", _MODE_SQL)
def agg_mode(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 200)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("n_occurrences"),
        )
    )


# intersect / except with set semantics (both engines deduplicate) —
# completes the §2.7 set-operation family alongside union_globs/distinct
_SETOPS_SQL = """
SELECT 'both' AS side, doc_id FROM (
  SELECT doc_id FROM documents WHERE doc_id < 300
  INTERSECT
  SELECT vec_id AS doc_id FROM embeddings WHERE vec_id >= 200
)
UNION ALL
SELECT 'docs_only' AS side, doc_id FROM (
  SELECT doc_id FROM documents WHERE doc_id < 300
  EXCEPT
  SELECT vec_id AS doc_id FROM embeddings WHERE vec_id >= 200
)
"""


@_q("set_ops", _SETOPS_SQL)
def set_ops(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300).select("doc_id")
    vecs = (
        _t(spark, sf, "embeddings")
        .filter(F.col("vec_id") >= 200)
        .select(F.col("vec_id").alias("doc_id"))
    )
    both = docs.intersect(vecs).select(F.lit("both").alias("side"), "doc_id")
    # subtract == SQL EXCEPT (set semantics): a left row that is
    # duplicated AND present on the right is removed entirely, where
    # exceptAll().distinct() would leave a survivor
    only = docs.subtract(vecs).select(F.lit("docs_only").alias("side"), "doc_id")
    return both.unionByName(only)


# null plumbing: coalesce / nullif / null-aware equality over the
# sparse events.value column
_NULLFUNCS_SQL = """
SELECT event_id,
       coalesce(value, 0.0) AS value_or_zero,
       nullif(event_type, 'view') AS type_not_view,
       (value IS NOT DISTINCT FROM NULL) AS value_is_null,
       CASE WHEN value IS NULL THEN 'missing' ELSE 'present' END AS presence
FROM events WHERE user_id < 100
"""


@_q("null_funcs", _NULLFUNCS_SQL)
def null_funcs(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 100)
    return ev.select(
        "event_id",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_or_zero"),
        F.nullif(F.col("event_type"), F.lit("view")).alias("type_not_view"),
        F.col("value").eqNullSafe(F.lit(None).cast("double")).alias("value_is_null"),
        F.when(F.col("value").isNull(), "missing")
        .otherwise("present")
        .alias("presence"),
    )


# positional explode: (doc_id, pos, token) — ordinality must survive the
# flatten on both engines
_EXPLODE_POS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id < 50),
idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, tk[i] AS token FROM idx
"""


@_q("explode_pos", _EXPLODE_POS_SQL)
def explode_pos(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    from ..functions.hashing import tokens_sql

    return docs.selectExpr(
        "doc_id", f"posexplode({tokens_sql('text')}) AS (pos, token)"
    )


# classic unit-cost edit distance — same DP definition in both engines
_STRDIST_SQL = """
WITH d AS (SELECT doc_id, substr(lower(trim(text)), 1, 24) AS head
           FROM documents WHERE doc_id < 12)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
FROM d a JOIN d b ON a.doc_id < b.doc_id
"""


@_q("str_distance", _STRDIST_SQL)
def str_distance(spark, sf):
    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 12)
        .select(
            "doc_id",
            F.substring(F.lower(F.trim(F.col("text"))), 1, 24).alias("head"),
        )
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("_ha"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("_hb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("_ha", "_hb").cast("long").alias("edit_dist"),
        )
    )


# exactly-k deterministic sample: order by content hash, take k — the
# reproducible "give me 100 examples" cut (vs fraction-based sampling,
# which returns a random-sized result)
_EXACTK_SQL = f"""
SELECT doc_id FROM (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY {O.md5_long("'17' || ':' || CAST(doc_id AS VARCHAR)")} ASC,
                    doc_id ASC
         ) AS rn
  FROM documents)
WHERE rn <= 40
"""


@_q("sample_exact_k", _EXACTK_SQL)
def sample_exact_k(spark, sf):
    # TakeOrderedAndProject via operators.sampling.sample_exact — per-
    # partition partial top-k, never a global unpartitioned window
    from ..operators.sampling import sample_exact

    docs = _t(spark, sf, "documents").select("doc_id")
    return sample_exact(docs, k=40, id_col="doc_id", seed=17).select("doc_id")


_INCR_DEDUP_SQL = r"""
WITH t AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tk
           FROM documents),
t2 AS (SELECT * FROM t WHERE len(tk) > 0),
c AS (SELECT doc_id, source,
             unnest(generate_series(0, CAST(floor((len(tk)-1)/32) AS INT))) AS chunk_idx,
             tk
      FROM t2),
x AS (SELECT doc_id, source,
             array_to_string(tk[chunk_idx*32+1 : chunk_idx*32+32], ' ') AS chunk_text
      FROM c)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.source <> 'src0'
  AND NOT EXISTS (
    SELECT 1 FROM x n
    WHERE n.doc_id = d.doc_id
      AND n.chunk_text IN (SELECT chunk_text FROM x WHERE source = 'src0'))
"""


@_q("dedup_incremental", _INCR_DEDUP_SQL)
def dedup_incremental(spark, sf):
    # steady-state ingest: new batch (source != src0) deduped against
    # the already-ingested corpus (src0) by shared 32-word chunks —
    # Bloom bitmap prefilter + exact semi-join recheck, so the SQL
    # NOT EXISTS is the oracle
    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    existing = docs.filter(F.col("source") == "src0")
    new_batch = docs.filter(F.col("source") != "src0")
    return dedup.incremental_dedup(new_batch, existing).select(
        "doc_id", "source"
    )


_EXACTK_GROUP_SQL = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {O.md5_long("'7' || ':' || CAST(doc_id AS VARCHAR)")} ASC,
                    doc_id ASC
         ) AS rn
  FROM documents)
WHERE rn <= 5
"""


@_q("sample_group_k", _EXACTK_GROUP_SQL)
def sample_group_k(spark, sf):
    # balanced per-source cut: the window is PARTITIONED by source, so
    # parallelism scales with group count (contrast sample_exact_k's
    # global TakeOrdered)
    from ..operators.sampling import sample_exact_per_group

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return sample_exact_per_group(
        docs, k=5, group_cols=["source"], id_col="doc_id", seed=7
    )


_WEIGHTED_SQL = f"""
SELECT doc_id FROM (
  SELECT doc_id,
         -ln((({O.md5_long("'3' || ':' || CAST(doc_id AS VARCHAR)")} % 1000000) + 1)
             / 1000000.0) / CAST(n_chars AS DOUBLE) AS _es_key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
ORDER BY _es_key ASC, doc_id ASC LIMIT 25
"""


@_q("sample_weighted_k", _WEIGHTED_SQL)
def sample_weighted_k(spark, sf):
    # Efraimidis-Spirakis weighted sample (inclusion tracks n_chars),
    # deterministic u from hash(seed:id); TakeOrdered top-k plan
    from ..operators.sampling import sample_weighted

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return sample_weighted(
        docs, k=25, weight_col="n_chars", id_col="doc_id", seed=3
    ).select("doc_id")


def _zorder_sql() -> str:
    from ..sources.sinks import morton_key_sql

    key = morton_key_sql("(user_id % 256)", "(event_id % 256)", bits=8)
    return f"""
SELECT event_id, user_id, CAST({key} AS BIGINT) AS z_key
FROM events WHERE user_id < 100
"""


@_q("zorder_key", _zorder_sql())
def zorder_key(spark, sf):
    # same engine-portable expression string on both sides (sinks.
    # morton_key_sql)
    from ..sources.sinks import morton_key_sql

    ev = _t(spark, sf, "events").filter(F.col("user_id") < 100)
    key = morton_key_sql("(user_id % 256)", "(event_id % 256)", bits=8)
    return ev.select(
        "event_id", "user_id", F.expr(key).cast("long").alias("z_key")
    )


# =====================================================================
# C4 line-level cleaning (Raffel et al. 2020 §2.2)
# =====================================================================

# The synthetic documents are single-line word soup, so the gate first
# "linifies" them deterministically IN SQL on both engines: words are
# chunked 6 per line; line (doc_id+i)%13==0 is truncated to 2 words
# (exercises the min-words rule), line (doc_id+i)%4==3 gets no terminal
# punctuation (punct rule), line (doc_id+i)%17==0 ends ' javascript.'
# (marker rule); docs doc_id%23==0 / doc_id%29==5 get a page-level
# 'lorem ipsum' / '{' line appended (page flags). Same arithmetic, same
# chunking, both dialects.
_C4_LINED_SPARK = """
concat(
  CASE WHEN size(_w) = 0 THEN '' ELSE
    array_join(transform(sequence(0, CAST(ceil(size(_w)/6.0) AS INT) - 1), i ->
      concat(
        array_join(slice(_w, i*6+1, CASE WHEN (doc_id + i) % 13 = 0 THEN 2 ELSE 6 END), ' '),
        CASE WHEN (doc_id + i) % 4 = 3 THEN ''
             WHEN (doc_id + i) % 17 = 0 THEN ' javascript.'
             ELSE '.' END
      )), chr(10))
  END,
  CASE WHEN doc_id % 23 = 0 THEN concat(chr(10), 'lorem ipsum dolor sit amet consectetur adipiscing elit.')
       WHEN doc_id % 29 = 5 THEN concat(chr(10), 'var cfg = { a: 1 };')
       ELSE '' END
)
"""

_C4_PUNCT = "regexp_matches(s, '[.!?\"]$')"
_C4_WORDS = (
    r"len(list_filter(string_split_regex(s, '[ \t\x0B\f\r]+'),"
    r" x -> x <> '')) >= 5"
)
_C4_MARKER_OK = "NOT contains(lower(s), 'javascript')"


def _c4_line_filter_sql() -> str:
    lined = (
        "(CASE WHEN len(w) = 0 THEN '' ELSE\n"
        "    array_to_string(list_transform(generate_series(0, CAST(ceil(len(w)/6.0) AS BIGINT) - 1), i ->\n"
        "      array_to_string(w[i*6+1 : i*6 + (CASE WHEN (doc_id + i) % 13 = 0 THEN 2 ELSE 6 END)], ' ')\n"
        "      || (CASE WHEN (doc_id + i) % 4 = 3 THEN ''\n"
        "               WHEN (doc_id + i) % 17 = 0 THEN ' javascript.'\n"
        "               ELSE '.' END)\n"
        "    ), chr(10))\n"
        "  END)\n"
        "  || (CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet consectetur adipiscing elit.'\n"
        "           WHEN doc_id % 29 = 5 THEN chr(10) || 'var cfg = { a: 1 };'\n"
        "           ELSE '' END)"
    )
    keep_line = f"{_C4_PUNCT} AND {_C4_WORDS} AND {_C4_MARKER_OK}"
    return f"""
WITH t AS (SELECT doc_id, {O.tokens('text')} AS w FROM documents),
lt AS (SELECT doc_id, {lined} AS text FROM t),
L AS (SELECT doc_id, text,
             list_transform(string_split_regex(text, '\r?' || chr(10)),
                            s -> trim(s)) AS ls
      FROM lt),
K AS (SELECT doc_id, text, ls,
             list_filter(ls, s -> {keep_line}) AS kept
      FROM L)
SELECT doc_id,
  CAST(len(ls) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  CAST(len(list_filter(ls, s -> NOT {_C4_PUNCT})) AS BIGINT) AS n_drop_punct,
  CAST(len(list_filter(ls, s -> {_C4_PUNCT} AND NOT ({_C4_WORDS}))) AS BIGINT) AS n_drop_short,
  CAST(len(list_filter(ls, s -> {_C4_PUNCT} AND ({_C4_WORDS}) AND NOT ({_C4_MARKER_OK}))) AS BIGINT) AS n_drop_marker,
  contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
  contains(text, '{{') AS has_brace,
  (len(kept) >= 3
   AND NOT contains(lower(text), 'lorem ipsum')
   AND NOT contains(text, '{{')) AS keep,
  coalesce(array_to_string(kept, chr(10)), '') AS text_clean
FROM K
"""


@_q("c4_line_filter", _c4_line_filter_sql())
def c4_line_filter(spark, sf):
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the
    standard pre-dedup web-cleaning stage): per-line terminal-
    punctuation / min-words / 'javascript' rules with first-failing-
    rule audit counts, page-level lorem-ipsum / brace / min-kept-lines
    flags, kept lines reassembled. operators/text.py c4_line_filter;
    the input is linified from the word-soup documents by a shared
    deterministic SQL fragment (comment above)."""
    from ..functions.hashing import tokens_sql

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{tokens_sql('text')} AS _w"
    )
    lined = docs.select(
        "doc_id", F.expr(_C4_LINED_SPARK).alias("text")
    )
    return text.c4_line_filter(lined)


# =====================================================================
# URL/domain ingest hygiene (RefinedWeb-style)
# =====================================================================

# documents carry no URL column; the gate synthesizes one
# deterministically from (source, doc_id) — 20 sources x 13 subdomain
# slots x 3 registered domains — with the same expression in both
# dialects.
_URL_SPARK = (
    "concat('https://', source, '.w', CAST(doc_id % 13 AS STRING), '.', "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'example.com' "
    "WHEN 1 THEN 'test.org' ELSE 'sample.net' END, "
    "'/d/', CAST(doc_id AS STRING))"
)
_URL_DUCK = (
    "'https://' || source || '.w' || CAST(doc_id % 13 AS VARCHAR) || '.' || "
    "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'example.com' "
    "WHEN 1 THEN 'test.org' ELSE 'sample.net' END) || "
    "'/d/' || CAST(doc_id AS VARCHAR)"
)
# one exact-host block + one whole-registered-domain block
_URL_BLOCKLIST = ["src1.w3.example.com", "test.org"]


def _url_host_duck(url: str) -> str:
    # mirrors web.extract_host exactly: HOST_RE extraction, lowercase,
    # trailing-dot strip — interpolated from the operator's own
    # constants so the oracle can never drift from the Spark rule
    from ..operators.web import HOST_RE

    return (
        "regexp_replace("
        f"lower(regexp_extract({url}, '{HOST_RE}', 1)), '\\.+$', '')"
    )


def _url_domain_duck(host: str) -> str:
    from ..operators.web import DOMAIN_RE

    return f"regexp_extract({host}, '{DOMAIN_RE}', 1)"


def _url_filter_sql() -> str:
    blocked = ", ".join(f"'{b}'" for b in _URL_BLOCKLIST)
    return f"""
WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
h AS (SELECT doc_id, url, {_url_host_duck('url')} AS host FROM u),
hd AS (SELECT doc_id, url, host,
              {_url_domain_duck('host')} AS domain
       FROM h)
SELECT doc_id, url, host, domain FROM hd
WHERE host NOT IN ({blocked}) AND domain NOT IN ({blocked})
"""


@_q("url_filter", _url_filter_sql())
def url_filter(spark, sf):
    """RefinedWeb-style URL filtering: RE2-portable host extraction +
    registered-domain derivation, then a broadcast blocklist applied as
    TWO equi anti-joins (exact host, whole domain) so the corpus side
    never shuffles and the join never degrades to a nested loop
    (operators/web.py url_filter)."""
    from ..operators import web

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_URL_SPARK).alias("url")
    )
    blocklist = spark.createDataFrame(
        [(b,) for b in _URL_BLOCKLIST], "pattern string"
    )
    return web.url_filter(docs, blocklist)


_DOMAIN_CAP_K = 40
_DOMAIN_CAP_SEED = 7


def _domain_caps_sql() -> str:
    h = O.md5_long(
        f"'{_DOMAIN_CAP_SEED}' || ':' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
h AS (SELECT doc_id, url, {_url_host_duck('url')} AS host FROM u),
hd AS (SELECT doc_id, url, host,
              {_url_domain_duck('host')} AS domain
       FROM h)
SELECT doc_id, host, domain FROM (
  SELECT doc_id, host, domain,
         row_number() OVER (
           PARTITION BY CASE WHEN domain <> '' THEN domain
                             WHEN host <> '' THEN host
                             ELSE chr(0) || 'uncapped' || ':' ||
                                  CAST(doc_id AS VARCHAR) END
           ORDER BY {h} ASC, doc_id ASC
         ) AS rn
  FROM hd)
WHERE rn <= {_DOMAIN_CAP_K}
"""


@_q("domain_caps", _domain_caps_sql())
def domain_caps(spark, sf):
    """Per-domain contribution cap (anti-flooding): keep at most K docs
    per registered domain by deterministic hash order — one
    domain-partitioned window that Catalyst rewrites to
    WindowGroupLimit (per-partition partial top-K before the shuffle);
    parallelism scales with domain cardinality
    (operators/web.py domain_caps)."""
    from ..operators import web

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_URL_SPARK).alias("url")
    )
    return web.domain_caps(
        docs, _DOMAIN_CAP_K, seed=_DOMAIN_CAP_SEED
    ).select("doc_id", "host", "domain")


def _split_by_host_sql() -> str:
    # same md5 bucket rule as _SPLIT_SQL, keyed by HOST instead of doc_id
    hash_arg = f"'{_SPLIT_SEED}' || ':' || host"
    bucket = f"({O.md5_long(hash_arg)}) % {sampling.RESOLUTION}"
    q80 = sampling.quantize(0.8)
    q90 = sampling.quantize(0.8) + sampling.quantize(0.1)
    return f"""
WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
h AS (SELECT doc_id, {_url_host_duck('url')} AS host FROM u)
SELECT doc_id, host,
       CASE WHEN {bucket} < {q80} THEN 'train'
            WHEN {bucket} < {q90} THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


@_q("split_by_host", _split_by_host_sql())
def split_by_host(spark, sf):
    """Leakage-safe holdout assignment: the split label is a pure
    function of the GROUP key (here the URL host) rather than the row
    id, so every page from a site — including its near-duplicates,
    boilerplate and mirrored paths — lands in the SAME split. This is
    the standard guard against train/test contamination through
    within-site duplication (the group-k-fold rule applied to corpus
    holdouts); `assign_split` keyed by doc_id cannot provide it. At
    production scale the key would be the registered domain or a dedup
    component id — any column works, the operator is the same
    `assign_split` with a different key.

    Scale shape: host extraction + md5 bucket are narrow per-row
    projections on the corpus scan — no shuffle, no group
    materialization; group-consistency comes from hash determinism,
    not from a groupBy."""
    from ..operators import web

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_URL_SPARK).alias("url")
    )
    parts = web.extract_host(docs).select("doc_id", "host")
    out = sampling.assign_split(parts, "host", _SPLITS, seed=_SPLIT_SEED)
    return out.select("doc_id", "host", "split")


# =====================================================================
# Public-suffix-list registered domains (round-14 verdict item 2)
# =====================================================================

# ccTLD-heavy URL synth: without the PSL, every *.co.uk / *.edu.au
# host would derive domain 'co.uk' / 'edu.au' — the blocklist bypass
# and cap-key pooling the PSL mode exists to fix.
_PSL_SITES = [
    "example.co.uk",
    "school.act.edu.au",
    "example.com",
    "sample.com.au",
    "test.org",
]
_PSL_CASE_SPARK = (
    "CASE CAST(doc_id % 5 AS INT) "
    + " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_PSL_SITES)
    )
    + " END"
)
_PSL_URL_SPARK = (
    "concat('https://', source, '.w', CAST(doc_id % 7 AS STRING), '.', "
    f"{_PSL_CASE_SPARK}, '/d/', CAST(doc_id AS STRING))"
)
_PSL_URL_DUCK = (
    "'https://' || source || '.w' || CAST(doc_id % 7 AS VARCHAR) || '.' || "
    f"({_PSL_CASE_SPARK}) || '/d/' || CAST(doc_id AS VARCHAR)"
)
# one registered ccTLD domain, one 3-label-suffix domain, one exact host
_PSL_BLOCKLIST = ["example.co.uk", "school.act.edu.au", "src1.w2.example.com"]


def _url_filter_psl_sql() -> str | None:
    """Artifact guard as _lm_perplexity_sql: a missing/corrupt
    artifacts/public_suffixes.json degrades this ONE gate to the
    rows-only path instead of crashing the registry import (the Spark
    side would fail too, but at CALL time with a clear error — not at
    import, which would take down every other gate with it)."""
    from ..operators.web import _last_labels_re

    try:
        from ..operators.web import frozen_suffixes

        suffixes = frozen_suffixes()
        if not suffixes:
            return None
    except Exception:
        return None
    by_depth: dict[int, list[str]] = {}
    for s in suffixes:
        by_depth.setdefault(s.count(".") + 1, []).append(s)
    depths = sorted(by_depth)
    sfx_ctes = ", ".join(
        f"s{k}(sfx) AS (VALUES "
        + ", ".join(f"('{s}')" for s in sorted(by_depth[k]))
        + ")"
        for k in depths
    )
    last_cols = ", ".join(
        f"regexp_extract(host, '{_last_labels_re(k)}', 1) AS _last{k}"
        for k in depths
    )
    joins = " ".join(
        f"LEFT JOIN s{k} ON l._last{k} = s{k}.sfx" for k in depths
    )
    # deepest listed suffix wins; registered = suffix + one label,
    # degrading to the bare host when the host IS the suffix — the
    # exact when-chain of operators/web.py extract_host
    branches = " ".join(
        f"WHEN s{k}.sfx IS NOT NULL THEN "
        f"(CASE WHEN regexp_extract(host, '{_last_labels_re(k + 1)}', 1) <> '' "
        f"THEN regexp_extract(host, '{_last_labels_re(k + 1)}', 1) "
        "ELSE host END)"
        for k in sorted(depths, reverse=True)
    )
    blocked = ", ".join(f"'{b}'" for b in _PSL_BLOCKLIST)
    return f"""
WITH {sfx_ctes},
u AS (SELECT doc_id, {_PSL_URL_DUCK} AS url FROM documents),
h AS (SELECT doc_id, url, {_url_host_duck('url')} AS host FROM u),
l AS (SELECT doc_id, url, host, {last_cols} FROM h),
d AS (SELECT l.doc_id, l.url, l.host,
             CASE {branches}
                  ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
             END AS domain
      FROM l {joins})
SELECT doc_id, url, host, domain FROM d
WHERE host NOT IN ({blocked}) AND domain NOT IN ({blocked})
"""


@_q("url_filter_psl", _url_filter_psl_sql())
def url_filter_psl(spark, sf):
    """RefinedWeb URL filtering with public-suffix-list registered
    domains (round-14 verdict item 2): the committed PSL subset
    (artifacts/public_suffixes.json) is tested once per suffix depth
    through joins.small_side (an IN literal at this size, a broadcast
    equi left join past the bound), the longest listed suffix wins, and the
    registered domain is suffix + one label — so a blocklist entry
    ``example.co.uk`` blocks every subdomain instead of silently
    matching nothing, while the corpus side stays shuffle-free
    (operators/web.py extract_host/url_filter, suffixes mode)."""
    from ..operators import web

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_PSL_URL_SPARK).alias("url")
    )
    blocklist = spark.createDataFrame(
        [(b,) for b in _PSL_BLOCKLIST], "pattern string"
    )
    return web.url_filter(docs, blocklist, suffixes=web.frozen_suffixes())


# =====================================================================
# HTML markup stripping (the pre-C4 extraction stage)
# =====================================================================

# Deterministic HTML-ish synth from the word-soup documents: title +
# h1 + paragraph with entities + div with <br>, a <script> on
# doc_id%3==0 and a <style> on doc_id%5==0 — same construction, both
# dialects.
_HTML_SPARK = """
concat(
 '<html><head><title>', array_join(slice(_w, 1, 4), ' '), '</title>',
 CASE WHEN doc_id % 3 = 0 THEN '<script type="text/javascript">var x = 1 < 2;</script>' ELSE '' END,
 CASE WHEN doc_id % 5 = 0 THEN '<style>.a{color:red}</style>' ELSE '' END,
 '</head><body><h1>', array_join(slice(_w, 5, 6), ' '), '</h1>',
 '<p>', array_join(slice(_w, 11, 8), ' '), ' &amp; ', array_join(slice(_w, 19, 8), ' '), '</p>',
 '<div>', array_join(slice(_w, 27, 6), ' '), '<br>', array_join(slice(_w, 33, 6), ' '), ' &lt;raw&gt;&nbsp;tail</div>',
 '</body></html>')
"""


def _html_clean_sql() -> str:
    from ..operators.web import (
        BLOCK_BREAK_RE,
        ENTITY_RE,
        SCRIPT_STYLE_RE,
        TAG_RE,
    )

    # DuckDB array_to_string([]) is NULL (not '') and || propagates
    # NULL, so every slice-join is coalesced; Spark's array_join([]) is
    # already ''.
    def j(a: int, n: int) -> str:
        return f"coalesce(array_to_string(w[{a}:{a + n - 1}], ' '), '')"

    html = (
        "'<html><head><title>' || " + j(1, 4) + " || '</title>'"
        " || (CASE WHEN doc_id % 3 = 0 THEN"
        " '<script type=\"text/javascript\">var x = 1 < 2;</script>'"
        " ELSE '' END)"
        " || (CASE WHEN doc_id % 5 = 0 THEN '<style>.a{color:red}</style>'"
        " ELSE '' END)"
        " || '</head><body><h1>' || " + j(5, 6) + " || '</h1>'"
        " || '<p>' || " + j(11, 8) + " || ' &amp; ' || " + j(19, 8) + " || '</p>'"
        " || '<div>' || " + j(27, 6) + " || '<br>' || " + j(33, 6)
        + " || ' &lt;raw&gt;&nbsp;tail</div>'"
        " || '</body></html>'"
    )
    return f"""
WITH t0 AS (SELECT doc_id, {O.tokens('text')} AS w FROM documents),
h AS (SELECT doc_id, {html} AS html FROM t0),
c1 AS (SELECT doc_id, html,
              regexp_replace(html, '{SCRIPT_STYLE_RE}', ' ', 'g') AS s
       FROM h),
c2 AS (SELECT doc_id, html,
              regexp_replace(s, '{BLOCK_BREAK_RE}', chr(10), 'g') AS s
       FROM c1),
c3 AS (SELECT doc_id, html, regexp_replace(s, '{TAG_RE}', ' ', 'g') AS s
       FROM c2),
c4 AS (SELECT doc_id, html,
              replace(replace(replace(replace(replace(replace(s,
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS s
       FROM c3),
c5 AS (SELECT doc_id, html,
              regexp_replace(s, '[ \t\x0B\f\r]+', ' ', 'g') AS s FROM c4),
c6 AS (SELECT doc_id, html,
              trim(regexp_replace(s, ' ?(\n ?)+', chr(10), 'g'),
                   ' ' || chr(10)) AS s
       FROM c5)
SELECT doc_id,
  CAST(len(regexp_extract_all(html, '{TAG_RE}')) AS BIGINT) AS n_tags,
  CAST(len(regexp_extract_all(html, '{ENTITY_RE}')) AS BIGINT) AS n_entities,
  s AS text_clean
FROM c6
"""


@_q("html_clean", _html_clean_sql())
def html_clean(spark, sf):
    """HTML markup stripping (the extraction stage before C4-style line
    cleaning in every web pipeline): <script>/<style> blocks dropped
    wholesale, block-level closers and <br> become newlines (real line
    structure for c4_line_filter downstream), remaining tags stripped,
    the six ubiquitous entities decoded (&amp; last — single-pass),
    whitespace tidied; tag/entity audit counts measured on the input.
    Narrow regex chain, no shuffle (operators/web.py html_clean)."""
    from ..functions.hashing import tokens_sql
    from ..operators import web

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{tokens_sql('text')} AS _w"
    )
    html = docs.select("doc_id", F.expr(_HTML_SPARK).alias("text"))
    return web.html_clean(html)


# =====================================================================
# URL-level exact dedup (CCNet's pre-content URL pass)
# =====================================================================

# Synthetic dup-heavy URLs: mixed-case scheme+host on even ids, a
# per-doc fragment (both erased by canonicalization), path = doc_id%97
# so ~5 docs at sf0.01 share each canonical URL.
_URLD_SPARK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Example.COM' "
    "ELSE 'https://www.example.com' END, "
    "'/Page/', CAST(doc_id % 97 AS STRING), '?q=Mixed', "
    "'#sec', CAST(doc_id AS STRING))"
)
_URLD_DUCK = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Example.COM' "
    "ELSE 'https://www.example.com' END) || "
    "'/Page/' || CAST(doc_id % 97 AS VARCHAR) || '?q=Mixed' || "
    "'#sec' || CAST(doc_id AS VARCHAR)"
)


def _url_dedup_sql() -> str:
    # mirrors web.canonicalize_url exactly (fragment drop; scheme and
    # host[:port] lowered; userinfo/path/query verbatim) and
    # web.url_dedup's NULL-url singleton key, interpolating the
    # operator's own regexes so the two dialects cannot drift
    from ..operators.web import PREFIX_RE, SCHEME_RE, USERINFO_RE

    return f"""
WITH u AS (SELECT doc_id, {_URLD_DUCK} AS url FROM documents),
nf0 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM u),
parts AS (SELECT doc_id, nf,
                 regexp_extract(nf, '{PREFIX_RE}', 1) AS pre,
                 regexp_extract(nf, '{SCHEME_RE}', 1) AS scheme,
                 regexp_extract(nf, '{USERINFO_RE}', 1) AS ui
          FROM nf0),
n AS (SELECT doc_id,
             lower(scheme) || ui ||
             lower(substring(nf, length(scheme) + length(ui) + 1,
                             length(pre) - length(scheme) - length(ui))) ||
             substring(nf, length(pre) + 1) AS url_norm
      FROM parts),
k AS (SELECT doc_id, url_norm,
             coalesce(url_norm,
                      chr(0) || 'nourl' || ':' || CAST(doc_id AS VARCHAR))
               AS ukey
      FROM n),
c AS (SELECT ukey, CAST(min(doc_id) AS BIGINT) AS canonical_id
      FROM k GROUP BY ukey)
SELECT k.doc_id, k.url_norm, c.canonical_id,
       k.doc_id = c.canonical_id AS keep
FROM k JOIN c USING (ukey)
"""


@_q("url_dedup", _url_dedup_sql())
def url_dedup(spark, sf):
    """URL-level exact dedup (CCNet's first dedup pass — by canonical
    URL, before any content is compared): RFC-3986 canonicalization
    (fragment dropped, scheme+authority lowercased, path/query
    verbatim), then lowest-id survivor per canonical URL via the
    dedup_exact groupBy+join shape — never a per-URL window
    (operators/web.py canonicalize_url, url_dedup)."""
    from ..operators import web

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_URLD_SPARK).alias("url")
    )
    return web.url_dedup(docs)


# =====================================================================
# IVFPQ shortlist + exact rerank (FAISS IndexRefineFlat recipe)
# =====================================================================


@_q("ann_ivfpq_rerank", _ann_ivfpq_sql(refine=4))
def ann_ivfpq_rerank(spark, sf):
    """IVFPQ/ADC shortlist (k*4 candidates through m-byte codes) +
    exact inner-product rerank of only the shortlist — the standard
    recall-restoring refine stage (Jégou et al. 2011 §V; FAISS
    IndexRefineFlat). True vectors are read through ONE broadcast hash
    join of the metadata-sized shortlist against the corpus
    (operators/vectors.py ann_ivfpq_rerank)."""
    from ..operators.vectors import ann_ivfpq_rerank as _rerank
    from ..operators.vectors import default_pq_codebooks

    emb = _t(spark, sf, "embeddings")
    books = default_pq_codebooks(64, m=8, ksub=16)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _rerank(
        q, emb, k=5, dim=64, codebooks=books, refine=4, n_cells=8, nprobe=2
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


# =====================================================================
# Temperature-scaled mixture weights (Lample & Conneau 2019 §3.1)
# =====================================================================

_MIX_TEMP_ALPHA = 0.3

_MIX_TEMP_SQL = f"""
WITH per AS (SELECT lang AS source, CAST(count(*) AS BIGINT) AS n
             FROM documents GROUP BY lang),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM per),
p AS (SELECT source, n,
             CAST(n AS DOUBLE) / total AS share,
             round(pow(CAST(n AS DOUBLE) / total, {_MIX_TEMP_ALPHA!r}), 6) AS pw
      FROM per CROSS JOIN t),
s AS (SELECT round(sum(pw), 6) AS tot_pw FROM p)
SELECT source, n, share, round(pw / tot_pw, 6) AS weight
FROM p CROSS JOIN s
"""


@_q("mix_temperature", _MIX_TEMP_SQL)
def mix_temperature(spark, sf):
    """Temperature-scaled mixture weights (the XLM alpha=0.3 rebalance)
    over the skewed `lang` column (en dominates 3:1): natural share
    p_i^alpha renormalized — integer counts and the exact integer-ratio
    share are bit-identical, pow() is the only transcendental and is
    6dp-rounded before the renormalizing sum per the parity rules
    (operators/sampling.py mix_temperature)."""
    docs = _t(spark, sf, "documents").select(F.col("lang").alias("lang"))
    return sampling.mix_temperature(
        docs, source_col="lang", alpha=_MIX_TEMP_ALPHA
    )


_DSIR_K = 100
_DSIR_SEED = 11


def _dsir_select_sql() -> str | None:
    """Oracle for DSIR importance resampling: replays the driver-side
    diff table (logp_target - logp_raw over the union vocabulary,
    built by the SAME dsir_diff_table helper the operator uses) and
    the identical log-space Gumbel-top-k ordering. Artifact guard as
    _lm_perplexity_sql."""
    from ..functions.artifacts import load_artifact
    from ..operators.sampling import dsir_diff_table
    from ..operators.text import frozen_lm

    try:
        diff, oov_diff = dsir_diff_table(
            load_artifact(None, "lm_target.json"), frozen_lm()
        )
        rows = ",\n  ".join(
            "('" + t.replace("'", "''") + f"', {d!r})"
            for t, d in sorted(diff.items())
        )
        if not rows:
            return None
    except Exception:
        return None
    h = O.md5_long(f"'{_DSIR_SEED}' || ':' || CAST(doc_id AS VARCHAR)")
    u = (
        f"((({h}) % {sampling.RESOLUTION}) + 1) "
        f"/ CAST({sampling.RESOLUTION + 1} AS DOUBLE)"
    )
    return f"""
WITH d(term, dw) AS (VALUES
  {rows}
), t AS (SELECT doc_id, unnest({O.tokens('text')}) AS term FROM documents),
s AS (SELECT doc_id, round(sum(coalesce(dw, {float(oov_diff)!r})), 6) AS lw
      FROM t LEFT JOIN d USING (term)
      GROUP BY doc_id),
w AS (SELECT doc.doc_id, coalesce(s.lw, CAST(0 AS DOUBLE)) AS logw
      FROM documents doc LEFT JOIN s ON doc.doc_id = s.doc_id)
SELECT doc_id, logw FROM w
ORDER BY ln(-ln({u})) - logw ASC, doc_id ASC
LIMIT {_DSIR_K}
"""


@_q("dsir_select", _dsir_select_sql())
def dsir_select(spark, sf):
    """DSIR importance resampling (Xie et al. 2023; round-14 verdict
    item 4): log importance weight = frozen target-LM minus frozen
    raw-LM log-prob per token (ONE broadcast join against the
    pre-subtracted union-vocab diff table), then sample-without-
    replacement proportional to the weight via log-space Gumbel-top-k
    — the Efraimidis-Spirakis machinery of sample_weighted without
    ever exponentiating logw (operators/sampling.py dsir_select)."""
    return sampling.dsir_select(
        _t(spark, sf, "documents"), _DSIR_K, seed=_DSIR_SEED
    )
