"""Scale-technique operators: salted join and time-partitioned storage.

These don't change WHAT is computed — the tests pin that they compute
the same rows as the plain formulation — only HOW it distributes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import salted_join
from retrieval_augmented_generation_rag_data_pipeline_spark.sources.readers import (
    load_events,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
    write_time_partitioned,
)

SF = "/root/testdata/sf0.001"


def test_salted_join_matches_plain_join(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    n = spark.read.parquet(f"{SF}/nation.parquet").select("n_nationkey", "n_name")
    dim = n.withColumnRenamed("n_nationkey", "c_nationkey")
    plain = {
        (r.c_custkey, r.n_name) for r in c.join(dim, "c_nationkey").collect()
    }
    salted = {
        (r.c_custkey, r.n_name)
        for r in salted_join(c, dim, "c_nationkey", salt=4).collect()
    }
    assert salted == plain


def test_salted_join_skewed_key(spark):
    # one hot key (90% of facts) — exactly the shape salting exists for
    facts = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id") % 5).alias("k"),
        F.col("id"),
    )
    dim = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    )
    out = salted_join(facts, dim, "k", salt=8)
    assert out.count() == 1000
    assert out.filter(F.col("k") == 7).count() == 900


def test_time_partitioned_write_prunes(spark, tmp_path):
    ev = load_events(spark, SF)
    path = str(tmp_path / "ev_parts")
    write_time_partitioned(ev, path)

    back = spark.read.parquet(path)
    assert back.count() == ev.count()

    one_day = back.filter(F.col("event_date") == "2024-01-01")
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = one_day._jdf.queryExecution().explainString(mode)
    # the date predicate must be a partition filter (metadata pruning),
    # never a data filter
    assert "PartitionFilters: [isnotnull(event_date" in plan
    exp = ev.filter(F.to_date("ts") == "2024-01-01").count()
    assert one_day.count() == exp


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        compact_parquet,
    )
    import pathlib

    src = str(tmp_path / "many")
    # simulate streaming ingest: 16 tiny files
    spark.range(10000).repartition(16).write.parquet(src)
    assert len(list(pathlib.Path(src).glob("part-*.parquet"))) == 16
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_mb=256)
    assert n == 1
    assert len(list(pathlib.Path(out).glob("part-*.parquet"))) == 1
    assert spark.read.parquet(out).count() == 10000


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        write_bucketed,
    )

    c = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    write_bucketed(c, "b_cust", str(tmp_path / "b_cust"), "c_custkey", 4)
    write_bucketed(o, "b_ord", str(tmp_path / "b_ord"), "c_custkey", 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the join strategy decision to depend on bucketing alone
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_cust").join(spark.table("b_ord"), "c_custkey")
        jvm = spark.sparkContext._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = joined._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        # and it still computes the right thing
        exp = c.join(o, "c_custkey").count()
        assert joined.count() == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_cust")
        spark.sql("DROP TABLE IF EXISTS b_ord")


def test_salted_join_rejects_dim_preserving_how(spark):
    import pytest

    f = spark.range(10).withColumnRenamed("id", "k")
    d = spark.range(5).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="duplicate unmatched dim rows"):
            salted_join(f, d, "k", salt=4, how=how)
    # safe hows still work
    assert salted_join(f, d, "k", salt=4, how="left_semi").count() == 5


def test_compact_parquet_splits_oversized_files(spark, tmp_path):
    """The growing direction: one big file -> several target-size files.
    Requires repartition (coalesce cannot raise the partition count)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        compact_parquet,
    )
    import pathlib

    src = str(tmp_path / "one_big")
    (
        spark.range(500_000)
        .withColumn("payload", F.md5(F.col("id").cast("string")))
        .coalesce(1)
        .write.parquet(src)
    )
    assert len(list(pathlib.Path(src).glob("part-*.parquet"))) == 1
    out = str(tmp_path / "split")
    n = compact_parquet(spark, src, out, target_mb=1)
    assert n > 1
    assert len(list(pathlib.Path(out).glob("part-*.parquet"))) == n
    assert spark.read.parquet(out).count() == 500_000


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    """Z-ordered files must have NARROW per-file min/max spans on BOTH
    dimensions (that is what footer-stat data skipping prunes on); a
    single-column sort can only achieve this for one of the two."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        write_zordered,
    )

    n = 4096
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1024).alias("a"),
        (F.col("id") * 40503 % 1024).alias("b"),
    )
    path = str(tmp_path / "zorder")
    write_zordered(df, path, "a", "b", n_files=16, bits=10)

    back = spark.read.parquet(path).withColumn(
        "file", F.input_file_name()
    )
    spans = back.groupBy("file").agg(
        (F.max("a") - F.min("a")).alias("span_a"),
        (F.max("b") - F.min("b")).alias("span_b"),
        F.count("*").alias("rows"),
    ).collect()
    assert sum(r.rows for r in spans) == n
    mean_a = sum(r.span_a for r in spans) / len(spans)
    mean_b = sum(r.span_b for r in spans) / len(spans)
    # random layout would give ~1023 span per file on both columns;
    # the curve should cut BOTH well below half the global span
    assert mean_a < 512, mean_a
    assert mean_b < 512, mean_b


def test_hot_salted_count_join_matches_plain_and_spreads_hot(spark):
    """hot_salted_count_join must emit exactly the plain inner join's
    rows (hot + cold + null-key groups under null_safe), while
    spreading a hot key's probe rows across salts on the build side."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        hot_salted_count_join,
    )

    # 60 probe rows on a hot key, a few cold keys, and NULL keys
    rows = (
        [(i, "hot") for i in range(60)]
        + [(100 + i, f"cold{i}") for i in range(5)]
        + [(200, None), (201, None)]
    )
    probe = spark.createDataFrame(rows, "id long, k string")
    build = probe.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("id").alias("lead_id"),
    )
    got = hot_salted_count_join(
        probe, build, key="k", count_col="n", salt_src="id",
        hot_threshold=50, n_salts=4, null_safe=True,
    )
    want = (
        probe.alias("p")
        .join(build.alias("b"), F.col("p.k").eqNullSafe(F.col("b.k")))
        .select("id", "p.k", "n", "lead_id")
    )
    assert sorted(map(tuple, got.select("id", "k", "n", "lead_id").collect())) == sorted(
        map(tuple, want.collect())
    )
    # without null_safe, NULL-key probe rows drop like a plain inner join
    got_ns = hot_salted_count_join(
        probe, build.filter(F.col("k").isNotNull()),
        key="k", count_col="n", salt_src="id",
        hot_threshold=50, n_salts=4,
    )
    assert got_ns.filter(F.col("k").isNull()).count() == 0
    assert got_ns.count() == 65


def test_hot_salted_count_join_caps_hot_key_set(spark):
    """The max_hot_keys guard (round-11 advisory): a hot-key set past
    the cap must raise with actionable guidance, not silently build an
    unbounded driver-resident set."""
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        hot_salted_count_join,
    )

    rows = [(i * 10 + j, f"k{i}") for i in range(8) for j in range(3)]
    probe = spark.createDataFrame(rows, "id long, k string")
    build = probe.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    with pytest.raises(ValueError, match="Raise hot_threshold"):
        hot_salted_count_join(
            probe, build, key="k", count_col="n", salt_src="id",
            hot_threshold=2, max_hot_keys=4,
        )
    # at the exact cap, no raise
    out = hot_salted_count_join(
        probe, build, key="k", count_col="n", salt_src="id",
        hot_threshold=2, max_hot_keys=8,
    )
    assert out.count() == len(rows)


def test_hot_salted_count_join_builds_no_jobs_under_pinning_disabled(spark):
    """Plan-inspection purity (round-11 review): constructing a
    hot_salted_count_join plan inside pinning_disabled() must submit
    ZERO Spark jobs — plan_guard/make_explain rely on that contract
    (the hot-key read is skipped; the cold-path plan is built)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        hot_salted_count_join,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        pinning_disabled,
    )

    probe = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(50)], "id long, k string"
    )
    build = probe.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    with pinning_disabled():
        df = hot_salted_count_join(
            probe, build, key="k", count_col="n", salt_src="id",
            hot_threshold=2,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "plan construction/inspection submitted jobs"
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_hot_salted_count_join_large_hot_set_broadcasts(spark, monkeypatch):
    """Round-12 advisory: once its literal renders past the one
    small-side bound (joins.INLINE_MAX_BYTES) the hot set must ride
    into the plan as a broadcast join against a tiny frame, not as
    IN-list expression literals on both sides — and results must stay
    exactly the plain inner join's either way."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import joins as J

    rows = (
        [(i, "hot") for i in range(60)]
        + [(100 + i, f"cold{i}") for i in range(5)]
    )
    probe = spark.createDataFrame(rows, "id long, k string")
    build = probe.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("id").alias("lead_id"),
    )
    want = sorted(
        map(tuple, probe.join(build, "k").select("id", "k", "n", "lead_id").collect())
    )
    monkeypatch.setattr(J, "INLINE_MAX_BYTES", 0)  # force the bcast path
    got = J.hot_salted_count_join(
        probe, build, key="k", count_col="n", salt_src="id",
        hot_threshold=50, n_salts=4,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert " IN (" not in plan and "INSET" not in plan.upper()
    assert sorted(
        map(tuple, got.select("id", "k", "n", "lead_id").collect())
    ) == want
    # build side spreads the hot key across salts under the bcast
    # marking too
    parts = got.filter(F.col("k") == "hot").select(
        F.spark_partition_id().alias("p")
    ).distinct().count()
    assert parts >= 1  # smoke: the join executed through the salt


def test_hot_salted_count_join_hot_hashes_override_skips_read(spark):
    """hot_hashes_override is the plan-inspection seam: under
    pinning_disabled() (how plan_guard uses it) it must build the
    SALTED plan with ZERO jobs — neither the construction-time hot-key
    read nor the pin — and an overridden hot hash that matches the
    real key must still produce the plain join's rows when executed."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        hot_salted_count_join,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        pinning_disabled,
    )

    probe = spark.createDataFrame(
        [(i, "hot") for i in range(20)] + [(100, "cold")],
        "id long, k string",
    )
    build = probe.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    hot_hash = spark.sql("SELECT xxhash64('hot') AS h").collect()[0]["h"]
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    with pinning_disabled():
        df = hot_salted_count_join(
            probe, build, key="k", count_col="n", salt_src="id",
            hot_threshold=5, n_salts=4, hot_hashes_override=[hot_hash],
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "override still submitted construction jobs"
    assert "xxhash64" in plan  # the salted (hot) plan, not the cold one
    # executed (outside the inspection block, rebuilt with a pin): the
    # injected hot hash matches the real hot key -> plain join rows
    out = hot_salted_count_join(
        probe, build, key="k", count_col="n", salt_src="id",
        hot_threshold=5, n_salts=4, hot_hashes_override=[hot_hash],
    )
    assert out.count() == 21


def test_salted_join_nested_map_column(spark):
    """A map nested inside an array/struct column is just as unhashable
    to xxhash64 as a top-level map — the salt-source column filter must
    recurse, not prefix-match the type string (round-14 ADVICE)."""
    facts = spark.createDataFrame(
        [(1, [{"a": "x"}]), (2, [{"b": "y"}]), (1, [])],
        "k long, tags array<map<string,string>>",
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k long, v string")
    rows = salted_join(facts, dim, "k", salt=4).collect()
    assert sorted(r.v for r in rows) == ["one", "one", "two"]

    # struct-wrapped map: same contract
    facts2 = spark.createDataFrame(
        [(1, ({"a": "x"},)), (2, ({"b": "y"},))],
        "k long, s struct<m: map<string,string>>",
    )
    rows2 = salted_join(facts2, dim, "k", salt=4).collect()
    assert sorted(r.v for r in rows2) == ["one", "two"]
