"""Physical-plan audits (the 100 TB design gate).

Correctness tests prove the operators compute the right rows; these
prove Catalyst is given plans it can execute well at scale — filters
reach the parquet scan, small dimensions broadcast instead of shuffling,
projections prune unread columns, and the similarity joins use the
intended join strategies. A regression here usually means an operator
got rewritten in a way that silently breaks pushdown or broadcast.
"""

from __future__ import annotations

import pytest

from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name][0](spark, SF)
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_reaches_parquet_scan(spark):
    plan = plan_of(spark, "filter_year")
    assert "PushedFilters" in plan
    # the year() predicate itself isn't pushable, but the scan must not
    # read columns the projection drops
    assert "o_comment" not in plan and "o_totalprice" not in plan


def test_suffix_filter_pushes_isnotnull(spark):
    plan = plan_of(spark, "filter_suffix")
    assert "PushedFilters: [IsNotNull(p_type)]" in plan


def test_projection_prunes_scan_columns(spark):
    plan = plan_of(spark, "project_arith")
    assert "ReadSchema" in plan
    assert "l_comment" not in plan and "l_shipmode" not in plan


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_revenue_broadcasts_filtered_dim(spark):
    plan = plan_of(spark, "top_revenue_orders")
    assert "BroadcastHashJoin" in plan
    # customer filter applied before the broadcast, not after the join
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan


def test_tpch_q5_broadcast_prunes_before_fact_joins(spark):
    """The six-table star join must never degrade to a nested loop, and
    the two dim prunes (supplier inline, customer SEMI) must ride the
    <=25-row nation broadcast — the shape that holds at SF10k where
    supplier/customer scale with the facts."""
    plan = plan_of(spark, "join_tpch_q5")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # customer pruned via broadcast semi join on the nation keys
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the compound (l_suppkey, c_nationkey) condition stays an equi-join
    # (any join node, never a filter over a cross product)
    assert "Join" in plan


def test_semi_and_anti_joins_stay_joins(spark):
    for name in ("semi_join", "anti_join_ledger"):
        plan = plan_of(spark, name)
        assert "Join" in plan
        assert "CartesianProduct" not in plan


def test_knn_broadcasts_query_side(spark):
    plan = plan_of(spark, "knn_topk")
    # exact kNN = corpus stream x broadcast(queries); never a shuffle
    # cartesian of the corpus
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_joins_are_equi_joins(spark):
    for name in ("ann_lsh_topk", "ann_ivf_topk"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_tpch_q1_partial_aggregation(spark):
    plan = plan_of(spark, "agg_tpch_q1")
    # map-side partial agg + final agg (two HashAggregate nodes, each
    # printed twice in formatted mode: tree + detail)
    assert plan.count("HashAggregate") >= 4
    assert "SortAggregate" not in plan
    # the shipdate predicate must reach the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_lsh_pairs_evaluates_hash_pipeline_once(spark):
    # the tokenize->shingle->md5 pipeline must be staged in ONE plan node
    # (a single Project), not inlined into each of the NUM_PERM signature
    # slots nor re-evaluated by a pushed-down filter on another node.
    # (Within that node the tokens subexpression appears several times
    # textually — whole-stage codegen's subexpression elimination
    # evaluates it once per row.)
    plan = plan_of(spark, "dedup_lsh_pairs")
    lines_with_pipeline = [
        ln for ln in plan.splitlines() if "split(lower(" in ln
    ]
    assert len(lines_with_pipeline) == 1, plan[: plan.index("(1)")]


def test_tpch_q6_all_predicates_pushed(spark):
    plan = plan_of(spark, "agg_tpch_q6")
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, pushed
    # only the 4 referenced columns may be scanned
    assert "l_comment" not in plan and "l_orderkey" not in plan


@pytest.mark.parametrize("name", ["agg_by_year", "window_tumbling"])
def test_aggregations_read_only_needed_columns(spark, name):
    plan = plan_of(spark, name)
    assert "ReadSchema" in plan


def test_positional_join_has_no_single_partition_stage(spark):
    # row_number() OVER (ORDER BY ...) with no PARTITION BY would show
    # an Exchange SinglePartition — the one-task global sort bottleneck.
    # The distributed index (range exchange + per-partition window +
    # driver-side prefix offsets) must never produce one.
    plan = plan_of(spark, "join_positional")
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_dedup_is_bucket_blocked(spark):
    # the near-dup default must be the multi-table LSH bucket equi-join,
    # never the O(n^2) all-pairs join (vec_a < vec_b as the ONLY
    # condition -> nested-loop/cartesian)
    plan = plan_of(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_bk" in plan  # bucket struct is a join key


def test_ivf_index_scan_prunes_to_probed_partitions(spark, tmp_path):
    """The persisted IVF layout must turn nprobe into metadata-level
    partition pruning: the parquet scan lists only the probed `_cell=`
    directories, and results equal the in-memory IVF search."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk,
        ann_ivf_topk_indexed,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, dim=64, n_cells=8)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_ivf_topk_indexed(spark, path, q, k=5, dim=64, n_cells=8, nprobe=2)

    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    import re

    # static IN over the partition column (plus Spark's own DPP on top)
    assert re.search(r"PartitionFilters: \[_cell#\d+ IN \(", plan), plan

    base = ann_ivf_topk(q, emb, k=5, dim=64, n_cells=8, nprobe=2)
    got = sorted((r.query_id, r.vec_id, r.rank, round(r.sim, 9)) for r in out.collect())
    exp = sorted((r.query_id, r.vec_id, r.rank, round(r.sim, 9)) for r in base.collect())
    assert got == exp


def test_ivf_index_meta_guards_quantizer_mismatch(spark, tmp_path):
    """A probe whose quantizer differs from the one the index was
    written with must raise, not silently return wrong neighbors: the
    _ivf_meta.json sidecar pins (dim, n_cells, vec_col, centroids)."""
    import pytest
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk_indexed,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf_meta_index")
    write_ivf_index(emb, path, dim=64, n_cells=8)
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # matching quantizer: fine (validated at build time, no collect needed)
    ann_ivf_topk_indexed(spark, path, q, k=3, dim=64, n_cells=8, nprobe=2)
    with pytest.raises(ValueError, match="n_cells"):
        ann_ivf_topk_indexed(spark, path, q, k=3, dim=64, n_cells=16, nprobe=2)
    with pytest.raises(ValueError, match="centroid_hash"):
        ann_ivf_topk_indexed(
            spark, path, q, k=3, dim=64, nprobe=2,
            centroids=[[float(i == j) for j in range(64)] for i in range(8)],
        )


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """The bucketed interval join must plan as an equi-join (hash/SMJ on
    the bucket key), never BroadcastNestedLoopJoin, and must return
    exactly the rows of the plain theta-join formulation."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        interval_join,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.readers import (
        load_events,
    )

    ev = load_events(spark, SF).filter(F.col("user_id") < 20)
    iv = ev.groupBy("user_id").agg(F.min("ts").alias("lo"))
    iv = iv.withColumn("hi", F.col("lo") + F.expr("INTERVAL 45 MINUTES"))
    pts = ev.select("event_id", "user_id", "ts")
    out = interval_join(pts, iv, "ts", "lo", "hi", keys=["user_id"],
                        bucket_seconds=900)

    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    theta = pts.join(iv, "user_id").filter(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi"))
    )
    got = {(r.event_id, r.user_id) for r in out.collect()}
    exp = {(r.event_id, r.user_id) for r in theta.collect()}
    assert got == exp and len(got) > 0


def test_indexed_probe_guards(spark, tmp_path):
    """A missing meta sidecar raises (unverifiable quantizer) on the
    persisted probe; interval_join refuses a colliding '_b' column."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        interval_join,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk_indexed,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf_nometa")
    write_ivf_index(emb, path, dim=64, n_cells=8)
    os.remove(path + "/_ivf_meta.json")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="no _ivf_meta.json"):
        ann_ivf_topk_indexed(spark, path, q, k=3, dim=64, n_cells=8, nprobe=2)

    pts = spark.createDataFrame([(1, 5.0, 7)], ["id", "ts", "_b"])
    iv = spark.createDataFrame([(0.0, 10.0)], ["lo", "hi"])
    with pytest.raises(ValueError, match="'_b' column"):
        interval_join(pts, iv, "ts", "lo", "hi")


def test_morton_key_bigint_safe_on_int_columns(spark):
    """bits=16 shifts reach <<31; on a 32-bit INT column the generated
    SQL must CAST to BIGINT so high-bit interleaves never go negative,
    and Spark/DuckDB agree on the key."""
    import duckdb

    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        morton_key_sql,
    )

    key = morton_key_sql("a", "b", bits=16)
    df = spark.createDataFrame(
        [(65535, 65535), (40000, 1), (0, 65535)],
        "a int, b int",
    ).select("a", "b", F.expr(key).alias("z"))
    rows = sorted((r.a, r.b, r.z) for r in df.collect())
    assert all(z >= 0 for _, _, z in rows)
    assert rows[-1][2] == (1 << 32) - 1  # (65535, 65535) fills all 32 bits
    oracle = sorted(
        duckdb.execute(
            f"SELECT a, b, {key} FROM (VALUES (65535, 65535), (40000, 1), "
            "(0, 65535)) t(a, b)"
        ).fetchall()
    )
    assert rows == [(a, b, int(z)) for a, b, z in oracle]


def test_rank_small_total_order(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.relational import rank_small

    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1)], ["doc_id", "score"]
    )
    got = {
        r.doc_id: r.rank
        for r in rank_small(df, [("score", "desc"), ("doc_id", "asc")]).collect()
    }
    assert got == {2: 1, 3: 2, 1: 3, 4: 4}

    asc = {
        r.doc_id: r.r2
        for r in rank_small(df, [("score", "asc"), ("doc_id", "asc")], rank_col="r2").collect()
    }
    assert asc == {4: 1, 1: 2, 2: 3, 3: 4}

    # empty input: the single-row collect_list aggregate yields an empty
    # array and posexplode drops it — zero rows out, schema intact
    empty = rank_small(
        df.filter("doc_id < 0"), [("score", "desc"), ("doc_id", "asc")]
    )
    assert empty.columns == ["doc_id", "score", "rank"]
    assert empty.count() == 0


def test_rank_small_rejects_string_desc(spark):
    """Round-5 advisory: desc-by-negation on a string column would cast
    to double (NULLs), silently ranking every row 1. Must raise."""
    import pytest as _pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.relational import rank_small

    df = spark.createDataFrame([("b", 1), ("a", 2)], ["name", "doc_id"])
    with _pytest.raises(ValueError, match="desc ordering requires a numeric"):
        rank_small(df, [("name", "desc"), ("doc_id", "asc")])
    # asc on a string stays allowed (struct comparison, no negation)
    got = {r.name: r.rank for r in rank_small(df, [("name", "asc")]).collect()}
    assert got == {"a": 1, "b": 2}


def test_retrieval_eval_metric_bounds_and_coverage(spark):
    """Semantic net under the oracle parity: one row per query, metrics
    inside their definitional bounds, recall consistent with n_hits."""
    out = REGISTRY["retrieval_eval"][0](spark, SF).collect()
    assert len(out) == 8  # one row per query vec_id < 8
    for r in out:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall_k - r.n_hits / 5.0) < 1e-9
        assert 0.0 <= r.rr <= 1.0


def test_retrieval_eval_ivf_metric_bounds(spark):
    """Same semantic net as retrieval_eval, for the IVFPQ path: one row
    per query, metrics inside definitional bounds. (The fixed oracle
    quantizer scores low recall by design — tools/recall_probe.py holds
    the trained numbers; this guards the measurement, not the index.)"""
    out = REGISTRY["retrieval_eval_ivf"][0](spark, SF).collect()
    assert len(out) == 8
    for r in out:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall_k - r.n_hits / 5.0) < 1e-9
        assert 0.0 <= r.rr <= 1.0


def test_retrieval_eval_ivf_trained_beats_fixed(spark):
    """The in-gate version of tools/recall_probe.py's headline finding:
    the trained coarse quantizer + PQ codebooks must recall at least as
    many exact-kNN neighbors as the fixed oracle families (on this
    corpus it is 8 vs 2 hits), and the metric frame obeys the same
    bounds as its SQL-checked siblings."""
    trained = REGISTRY["retrieval_eval_ivf_trained"][0](spark, SF).collect()
    fixed = REGISTRY["retrieval_eval_ivf"][0](spark, SF).collect()
    assert len(trained) == 8
    for r in trained:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall_k - r.n_hits / 5.0) < 1e-9
        assert 0.0 <= r.rr <= 1.0
    assert sum(r.n_hits for r in trained) >= sum(r.n_hits for r in fixed)


def test_dedup_eval_exact_duplicates_score_one(spark):
    """The doubled test corpus plants exact duplicate pairs
    (doc_id, doc_id+100000): every one the LSH surfaces must verify at
    jaccard == 1.0 / is_dup == 1, and all jaccards must be in [0, 1]."""
    out = REGISTRY["dedup_eval"][0](spark, SF).collect()
    assert out
    planted = [r for r in out if r.doc_b == r.doc_a + 100000]
    assert planted, "LSH missed every planted duplicate pair"
    assert all(r.jaccard == 1.0 and r.is_dup == 1 for r in planted)
    assert all(0.0 <= r.jaccard <= 1.0 for r in out)
    assert all(
        (r.is_dup == 1) == (r.jaccard >= 0.5) for r in out
    )


def test_verify_pairs_jaccard_contract_guard(spark):
    """verify_pairs_jaccard is a public operator: a pair id missing
    from docs, or a pair whose docs BOTH yield zero shingles, must fail
    the job loudly (assert_true folded into jaccard) — not vanish via
    an inner join or emit a NULL 0/0."""
    import pytest as _pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        verify_pairs_jaccard,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "xy"),  # < k=3 words -> zero shingles
            (4, "zz"),  # < k=3 words -> zero shingles
        ],
        ["doc_id", "text"],
    )
    ok = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    got = verify_pairs_jaccard(ok, docs).collect()
    assert len(got) == 1 and abs(got[0].jaccard - 1.0 / 3.0) < 1e-12
    # missing id fails loudly (left join keeps the row for the guard)
    missing = spark.createDataFrame([(1, 999)], ["doc_a", "doc_b"])
    with _pytest.raises(Exception, match="verify_pairs_jaccard"):
        verify_pairs_jaccard(missing, docs).collect()
    # two shingle-less docs (0/0 jaccard) fail loudly too
    degenerate = spark.createDataFrame([(3, 4)], ["doc_a", "doc_b"])
    with _pytest.raises(Exception, match="verify_pairs_jaccard"):
        verify_pairs_jaccard(degenerate, docs).collect()
    # one shingle-less side is fine: well-defined jaccard 0.0
    half = spark.createDataFrame([(1, 3)], ["doc_a", "doc_b"])
    assert verify_pairs_jaccard(half, docs).collect()[0].jaccard == 0.0


def test_ivf_append_guards_quantizer_mismatch(spark, tmp_path):
    """Appending to an index written with DIFFERENT centroids must
    raise BEFORE any rows land: the sidecar would record the new
    quantizer while old rows stay binned by the old one — the silent
    wrong-neighbors failure the sidecar exists to prevent. Appending
    with the SAME quantizer stays allowed."""
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        read_vector_index,
        write_ivf_index,
    )

    dim = 4
    rows = [(i, [float(i % 3), 1.0, 0.0, 0.5]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents_a = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    cents_b = [[0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, dim, centroids=cents_a)
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        write_ivf_index(df, path, dim, centroids=cents_b, mode="append")
    write_ivf_index(df, path, dim, centroids=cents_a, mode="append")  # same: ok


def test_agg_conditional_counts_partition_with_null_condition(spark):
    """processed + failed == total even when the condition is NULL for
    some rows (a NULL condition counts as failed — ~NULL is NULL and
    used to leave such rows in neither bucket)."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.relational import (
        agg_conditional_counts,
    )

    df = spark.createDataFrame(
        [(True,), (False,), (None,)], "ok boolean"
    )
    r = agg_conditional_counts(df, F.col("ok")).collect()[0]
    assert (r.processed_count, r.failed_count, r.total) == (1, 2, 3)


def test_rank_small_null_keys_rank_last(spark):
    """NULL ordering keys must rank LAST under desc (bare struct
    ordering ranked a NULL score FIRST, i.e. best)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.relational import rank_small

    df = spark.createDataFrame(
        [(1, 0.9), (2, None), (3, 0.5)], "id long, score double"
    )
    got = [
        r.id for r in rank_small(df, [("score", "desc"), ("id", "asc")])
        .orderBy("rank").collect()
    ]
    assert got == [1, 3, 2]


def test_rank_small_desc_long_min_value(spark):
    """A bigint key of exactly Long.MIN_VALUE must rank LAST under desc
    (it is the smallest value) instead of overflowing on negation —
    integral desc keys are widened before the unary minus."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.relational import rank_small

    lmin = -(2**63)
    imin = -(2**31)
    df = spark.createDataFrame(
        [(1, lmin), (2, 5), (3, 0), (4, lmin + 1)],
        "doc_id int, score long",
    )
    got = {
        r.doc_id: r.rank
        for r in rank_small(df, [("score", "desc"), ("doc_id", "asc")]).collect()
    }
    assert got == {2: 1, 3: 2, 4: 3, 1: 4}

    # Int.MIN_VALUE widens to long before negation — same contract
    di = spark.createDataFrame(
        [(1, imin), (2, 7)], "doc_id int, score int"
    )
    got_i = {
        r.doc_id: r.rank
        for r in rank_small(di, [("score", "desc"), ("doc_id", "asc")]).collect()
    }
    assert got_i == {2: 1, 1: 2}
