from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
    ann_lsh_topk,
    dot_sql,
    knn_topk,
    l2_norm_sql,
    l2_normalize_sql,
)

SF = "/root/testdata/sf0.001"


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 0.0, 1.0])], ["a", "b"])
    row = df.selectExpr(
        f"{dot_sql('a', 'b')} AS d",
        f"{l2_normalize_sql('a')} AS n",
        f"{l2_norm_sql('a')} AS norm",
    ).first()
    assert row.d == 4.0
    assert row.n == pytest.approx([1 / 3, 2 / 3, 2 / 3])
    assert row.norm == pytest.approx(3.0)


def test_knn_full_k_equals_sorted_crossjoin(spark):
    # property (SURVEY §5.4): k = corpus size -> every (q, c) pair ranked
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 30)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_topk(q, emb, k=30)
    assert out.count() == 3 * 30
    # rank 1 of a query that is in the corpus must be itself (cos=1)
    top = {r.query_id: (r.vec_id, r.sim) for r in out.filter("rank = 1").collect()}
    for qid, (vid, sim) in top.items():
        assert vid == qid
        assert sim == pytest.approx(1.0)


def test_ann_lsh_topk_self_hit(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 50)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_lsh_topk(q, emb, k=5, dim=64, n_planes=2).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # each query lands in its own bucket, so its self-match must appear
    for qid, rows in by_q.items():
        best = min(rows, key=lambda r: r.rank)
        assert best.vec_id == qid and best.sim == pytest.approx(1.0)


def test_ivf_topk_self_hit_and_recall(spark):
    # each query is in the corpus and always probes its own cell ->
    # top-1 must be the query itself at sim ~= 1
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk,
        knn_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_ivf_topk(q, emb, k=3, dim=64, n_cells=8, nprobe=2).collect()
    top1 = {r.query_id: (r.vec_id, r.sim) for r in got if r.rank == 1}
    assert set(top1) == {0, 1, 2, 3, 4}
    for qid, (vid, sim) in top1.items():
        assert vid == qid and abs(sim - 1.0) < 1e-9
    # approximate results are a subset of the corpus scored exactly:
    # every (q, v, sim) in IVF output matches the exact cosine from knn
    exact = {
        (r.query_id, r.vec_id): r.sim
        for r in knn_topk(q, emb, k=emb.count()).collect()
    }
    for r in got:
        assert abs(exact[(r.query_id, r.vec_id)] - r.sim) < 1e-9


def test_trained_centroids_beat_fixed(spark):
    """train_ivf_centroids (MLlib KMeans) is the production quantizer:
    at the same nprobe its recall vs exact kNN must beat the fixed
    pseudo-random centroids, and probing every cell must be exact.

    The synthetic embeddings are near-isotropic (mean pairwise cosine
    ~0), which caps ANY 8-cell IVF around ~0.5 recall@5 at nprobe=2 —
    real-world embedding corpora are clustered, where trained cells is
    where the win compounds. The assertions here pin the structural
    properties, not a corpus-dependent absolute."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk,
        knn_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_topk(queries, emb, k=5).collect()
    }
    trained = train_ivf_centroids(emb, n_cells=8)
    assert len(trained) == 8 and len(trained[0]) == 64

    def recall(centroids, nprobe):
        got = {
            (r.query_id, r.vec_id)
            for r in ann_ivf_topk(
                queries, emb, k=5, dim=64, n_cells=8,
                nprobe=nprobe, centroids=centroids,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_trained = recall(trained, 2)
    r_fixed = recall(None, 2)
    assert r_trained > r_fixed, (r_trained, r_fixed)
    assert r_trained >= 0.45  # well above the 2/8 random-probe floor
    # probing every cell degenerates to exact search
    assert recall(trained, 8) == 1.0


def test_pq_encode_codes_in_range_and_deterministic(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        default_pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = default_pq_codebooks(64, m=8, ksub=16)
    codes = {r.vec_id: r.codes for r in pq_encode(emb, books).collect()}
    assert len(codes) == emb.count()
    for cs in codes.values():
        assert len(cs) == 8
        assert all(0 <= c < 16 for c in cs)
    again = {r.vec_id: r.codes for r in pq_encode(emb.repartition(5), books).collect()}
    assert codes == again  # pure function of the vector, not of layout


def test_pq_adc_approximates_exact_dot(spark):
    """ADC over trained codebooks: scores approximate the true inner
    product and recall@5 vs exact dot ranking clears a floor well above
    random (5/500 = 1%). Trained books must beat the fixed
    pseudo-random family on reconstruction quality."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_pq_topk,
        default_pq_codebooks,
        knn_topk,
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_topk(queries, emb, k=5, metric="dot").collect()
    }

    def recall(books):
        codes = pq_encode(emb, books)
        got = {
            (r.query_id, r.vec_id)
            for r in ann_pq_topk(queries, codes, books, k=5).collect()
        }
        return len(got & exact) / len(exact)

    trained = train_pq_codebooks(emb, dim=64, m=8, ksub=16)
    assert len(trained) == 8 and len(trained[0]) == 16 and len(trained[0][0]) == 8
    r_trained = recall(trained)
    r_fixed = recall(default_pq_codebooks(64, m=8, ksub=16))
    assert r_trained > r_fixed, (r_trained, r_fixed)
    assert r_trained >= 0.30, r_trained  # 8x16 PQ on isotropic data; >> 1% random


def test_dot_guard_raises_on_length_mismatch(spark):
    """Round-5 advisory: `raw + guard` never evaluated the assertion
    (null-safe Add short-circuits on the NULL left operand a mismatch
    produces). The guard now comes first and must actually fire."""
    df = spark.createDataFrame([([1.0, 2.0], [1.0])], ["a", "b"])
    with pytest.raises(Exception, match="length mismatch"):
        df.selectExpr(f"{dot_sql('a', 'b')} AS d").collect()


def test_dot_null_vector_yields_null_not_error(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], None), (None, [1.0, 2.0]), ([1.0, 2.0], [3.0, 4.0])],
        "a array<double>, b array<double>",
    )
    rows = df.selectExpr(f"{dot_sql('a', 'b')} AS d").collect()
    assert [r.d for r in rows] == [None, None, 11.0]


def test_dot_sql_guard_raises_on_dim_mismatch(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import _dot_sql

    df = spark.createDataFrame([([1.0, 2.0],)], ["v"])
    # wrong declared dim (1 element vs length-2 column) must raise, not NULL
    with pytest.raises(Exception, match="dim=1"):
        df.selectExpr(f"{_dot_sql('v', [1.0])} AS d").collect()
    # matching dim still computes; NULL vector passes through as NULL
    ok = spark.createDataFrame(
        [([1.0, 2.0],), (None,)], "v array<double>"
    ).selectExpr(f"{_dot_sql('v', [3.0, 4.0])} AS d").collect()
    assert [r.d for r in ok] == [11.0, None]


def test_frozen_quantizer_artifact_integrity():
    """The committed artifacts/quantizer.json is the gate's trained
    quantizer (tools/train_quantizer.py): right shapes for the
    dim=64 / n_cells=8 / m=8 / ksub=16 eval geometry, L2-normalized
    coarse centroids (argmax-dot cell assignment ranks by cosine), all
    finite — a corrupted or hand-edited artifact fails here before it
    silently skews the oracle-checked recall numbers."""
    import math

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        frozen_quantizer,
    )

    cents, books = frozen_quantizer()
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    for c in cents:
        n = math.sqrt(sum(x * x for x in c))
        assert abs(n - 1.0) < 1e-9
        assert all(math.isfinite(x) for x in c)
    assert len(books) == 8
    for cb in books:
        assert len(cb) == 16 and all(len(c) == 8 for c in cb)
        assert all(math.isfinite(x) for c in cb for x in c)


def test_frozen_quantizer_matches_live_training_slice():
    """Training-slice drift guard (round-11 verdict item 5): the
    artifact's embedded fingerprint must match a fresh fingerprint of
    the live testdata slice it claims to be trained on. If the driver
    ever reseeds /root/testdata, the frozen quantizer would silently
    measure a stale distribution (recall quietly degrades, every gate
    stays green) — this test fails loudly instead; re-run
    tools/train_quantizer.py to retrain and refreeze."""
    import json
    import pathlib

    from retrieval_augmented_generation_rag_data_pipeline_spark.functions.artifacts import (
        corpus_fingerprint,
    )

    art = json.loads(
        (
            pathlib.Path(__file__).resolve().parent.parent
            / "artifacts"
            / "quantizer.json"
        ).read_text()
    )
    live = corpus_fingerprint(
        "/root/testdata/sf0.01/embeddings.parquet",
        "vec_id",
        "embedding",
        where="vec_id >= 8",
    )
    assert art["fingerprint"] == live, (
        "artifacts/quantizer.json was trained on a DIFFERENT corpus "
        f"than the live testdata slice ({art['fingerprint']} vs {live})"
        " — regenerate with tools/train_quantizer.py"
    )


def test_table_assignment_matches_literal(spark):
    """assign_cells_table must agree BIT-FOR-BIT with the literal tier
    of assign_cells_exact (8 and 4 cells sit under CELL_LITERAL_MAX) on
    shared centroids — both on the fixed pseudo-random family and on
    the frozen trained artifact — because every IVF site switches
    between them on cell count and the switch must never move a
    vector's cell (and therefore its keep/drop or its index cell)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        assign_cells_exact,
        assign_cells_table,
        frozen_quantizer,
        ivf_centroid,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("_v")
    )
    trained, _ = frozen_quantizer()
    for cents in ([ivf_centroid(c, 64) for c in range(8)], trained):
        lit = {
            r.vec_id: r._cell
            for r in assign_cells_exact(emb, cents, "_v").collect()
        }
        tab = {
            r.vec_id: r._cell
            for r in assign_cells_table(
                emb, cents, vec_col="_v"
            ).collect()
        }
        assert lit == tab
    # NULL vector -> NULL cell on BOTH paths (round-12 advisory: the
    # literal path's all-NULL sort keys used to leave cell 0 first, so
    # NULL vectors silently landed in cell 0 on one path and the NULL
    # cell on the other — with max_cell_size that asymmetry could flip
    # keep/drop at the auto-switch)
    one = spark.createDataFrame([(1, None)], "vec_id int, _v array<double>")
    cents4 = [ivf_centroid(c, 64) for c in range(4)]
    row = assign_cells_table(one, cents4, "_v").first()
    assert row._cell is None
    lit_row = assign_cells_exact(one, cents4, "_v").first()
    assert lit_row._cell is None


@pytest.mark.parametrize("n_cells", [1, 8])
def test_literal_assignment_is_first_probe(spark, n_cells):
    """The literal tier assigns with ``least`` over the (nd, c) structs
    and probes with their sorted array: a vector's cell must be its
    first probe, a one-cell quantizer included."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        assign_cells_exact,
        ivf_centroid,
        probe_cells,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("_v")
    ).filter(F.col("_v").isNotNull())
    cents = [ivf_centroid(c, 64) for c in range(n_cells)]
    cell = {r.vec_id: r._cell for r in assign_cells_exact(emb, cents, "_v").collect()}
    first = {r.vec_id: r._cell for r in probe_cells(emb, cents, "_v", 1).collect()}
    assert cell == first
    assert len(set(cell.values())) == n_cells


def test_ivf_corpus_ranked_after_the_exchange(spark):
    """ann_ivf_topk and ann_ivfpq_topk_mem rank each corpus row once,
    after ensure_parallelism's exchange. The cell join infers
    isnotnull(_cell) and the optimizer pushes it below the exchange;
    only isnotnull(embedding) may arrive there, not the cell ranking."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        pinning_disabled,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk,
        ann_ivfpq_topk_mem,
        default_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = default_pq_codebooks(64, m=8, ksub=16)
    with pinning_disabled():
        built = [
            ann_ivf_topk(q, emb, k=3, dim=64),
            ann_ivfpq_topk_mem(q, emb, k=3, dim=64, codebooks=books),
        ]
    for df in built:
        lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        at = [i for i, line in enumerate(lines) if "Repartition" in line]
        assert len(at) == 1, lines
        depth = lines[at[0]].index("Repartition")
        below = []
        for line in lines[at[0] + 1:]:
            if len(line) - len(line.lstrip(" :|+-")) <= depth - 3:
                break
            below.append(line)
        assert not [line for line in below if "named_struct" in line], below
        assert any("Filter isnotnull(embedding" in line for line in below), below


def _plan(build) -> str:
    """Executed plan of ``build()`` with lineage pins off, so the cell
    assignment tier shows (a pin hides it behind the checkpoint)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        pinning_disabled,
    )

    with pinning_disabled():
        return build()._jdf.queryExecution().executedPlan().toString()


def test_semantic_dedup_table_path_matches_literal(spark, monkeypatch):
    """The table tier (forced by lowering vectors.CELL_LITERAL_MAX under
    the 8-cell count) must reproduce the literal tier's full
    (keep, dup_of, cell) output — the tier switch is pure plumbing."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import (
        vectors,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    key = lambda rows: sorted(  # noqa: E731
        (r.vec_id, r.cell, r.keep, r.dup_of, r.cos_max) for r in rows
    )
    run = lambda: semantic_dedup(emb, 0.35, 64, n_cells=8)  # noqa: E731
    assert "_cents" not in _plan(run)
    lit = key(run().collect())
    monkeypatch.setattr(vectors, "CELL_LITERAL_MAX", 4)
    assert "_cents" in _plan(run)
    tab = key(run().collect())
    assert lit == tab and len(lit) == emb.count()


def test_ivf_table_path_matches_literal(spark, monkeypatch, tmp_path):
    """Every IVF site's table tier (forced by lowering
    vectors.CELL_LITERAL_MAX under the 8-cell count) must reproduce its
    literal tier's full top-k (ids, scores, ranks): ann_ivf_topk,
    write_ivf_index + ann_ivf_topk_indexed, and ann_ivfpq_topk_mem.
    Probes and assignments fold identical doubles, so the result sets
    are bit-equal, not merely same-recall. An index written on either
    tier and probed on either returns the same rows, so existing
    indexes stay valid with no sidecar change; the persisted probe also
    equals its in-memory twin."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import (
        vectors,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    trained, _ = vectors.frozen_quantizer()
    books = vectors.default_pq_codebooks(64, m=8, ksub=16)
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    literal_max = vectors.CELL_LITERAL_MAX
    ceilings = (literal_max, 4)

    for cents in (None, trained):
        paths = {}
        for ceiling in ceilings:
            monkeypatch.setattr(vectors, "CELL_LITERAL_MAX", ceiling)
            paths["ivf", ceiling] = str(tmp_path / f"ivf_{ceiling}_{cents is None}")
            write_ivf_index(emb, paths["ivf", ceiling], dim=64, centroids=cents)
        sites = {
            "ivf": lambda: vectors.ann_ivf_topk(
                q, emb, k=5, dim=64, nprobe=2, centroids=cents
            ),
            "ivfpq_mem": lambda: vectors.ann_ivfpq_topk_mem(
                q, emb, k=5, dim=64, codebooks=books, nprobe=2, centroids=cents
            ),
        }
        for w in ceilings:  # the tier the index was WRITTEN on
            sites["ivf_indexed", w] = lambda w=w: vectors.ann_ivf_topk_indexed(
                spark, paths["ivf", w], q, k=5, dim=64, nprobe=2, centroids=cents
            )
        rows = {}
        for name, run in sites.items():
            got = {}
            for ceiling in ceilings:  # the tier the site RUNS on
                monkeypatch.setattr(vectors, "CELL_LITERAL_MAX", ceiling)
                got[ceiling] = ("_cents" in _plan(run), key(run().collect()))
            assert got[literal_max][0] is False and got[4][0] is True, name
            assert got[literal_max][1] == got[4][1], name
            assert len(got[4][1]) == 25, name
            rows[name] = got[4][1]
        for w in ceilings:
            assert rows["ivf_indexed", w] == rows["ivf"]


def test_arrow_assignment_agrees_on_real_data(spark):
    """assign_cells_arrow (numpy GEMM) must agree with the exact paths
    on the test corpora — real embeddings have no cross-centroid dot
    ties, so argmax-under-GEMM and the bit-exact folds coincide (the
    documented guarantee; exact ties are the only divergence surface).
    NULL vectors get NULL cells; dim mismatch raises from the batch."""
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        assign_cells_arrow,
        assign_cells_exact,
        frozen_quantizer,
        ivf_centroid,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("_v")
    )
    trained, _ = frozen_quantizer()
    for cents in ([ivf_centroid(c, 64) for c in range(8)], trained):
        lit = {
            r.vec_id: r._cell
            for r in assign_cells_exact(emb, cents, "_v").collect()
        }
        arw = {
            r.vec_id: r._cell
            for r in assign_cells_arrow(emb, cents, "_v").collect()
        }
        assert lit == arw
    one = spark.createDataFrame(
        [(1, None), (2, [0.0] * 64)], "vec_id int, _v array<double>"
    )
    rows = {
        r.vec_id: r._cell
        for r in assign_cells_arrow(
            one, [ivf_centroid(c, 64) for c in range(4)], "_v"
        ).collect()
    }
    assert rows[1] is None and rows[2] is not None
    bad = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id int, _v array<double>")
    with pytest.raises(Exception, match="dim"):
        assign_cells_arrow(
            bad, [ivf_centroid(c, 64) for c in range(4)], "_v"
        ).collect()


def test_semantic_dedup_arrow_path_matches_exact_paths(spark, monkeypatch):
    """The arrow tier (forced by lowering both vectors.CELL_* ceilings
    under the 8-cell count) reproduces the literal tier's full output
    on the test corpus (no dot ties on real data)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import (
        vectors,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    key = lambda rows: sorted(  # noqa: E731
        (r.vec_id, r.cell, r.keep, r.dup_of, r.cos_max) for r in rows
    )
    run = lambda: semantic_dedup(emb, 0.35, 64, n_cells=8)  # noqa: E731
    lit = key(run().collect())
    monkeypatch.setattr(vectors, "CELL_LITERAL_MAX", 4)
    monkeypatch.setattr(vectors, "CELL_EXACT_AUTO_MAX", 4)
    assert "ArrowEvalPython" in _plan(run)
    assert lit == key(run().collect())


def test_ann_ivfpq_rerank_exact_scores_and_recall_gain(spark):
    """IndexRefineFlat semantics: (1) rerank output is a subset of the
    ADC shortlist with EXACT inner-product scores (bit-equal to
    knn_topk's dot on the same pairs); (2) recall@k vs exact search is
    at least the raw ADC path's — the refine stage can reorder within
    the shortlist, never invent candidates outside it."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivfpq_rerank,
        ann_ivfpq_topk_mem,
        ann_pq_topk,
        default_pq_codebooks,
        knn_topk,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = default_pq_codebooks(64, m=8, ksub=16)
    q = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # a NULL query vector emits no rows (it used to get k NULL-score
    # "neighbors" from the ADC path)
    qn = q.unionByName(spark.createDataFrame([(999, None)], q.schema))
    k = 5
    rer = ann_ivfpq_rerank(
        qn, emb, k=k, dim=64, codebooks=books, refine=4, n_cells=8, nprobe=2
    ).collect()
    short = ann_ivfpq_topk_mem(
        qn, emb, k=k * 4, dim=64, codebooks=books, n_cells=8, nprobe=2
    ).collect()
    adc = ann_ivfpq_topk_mem(
        qn, emb, k=k, dim=64, codebooks=books, n_cells=8, nprobe=2
    ).collect()
    flat = ann_pq_topk(qn, pq_encode(emb, books), books, k=k).collect()
    assert 999 not in {r.query_id for r in rer + short + adc + flat}
    exact = knn_topk(q, emb, k=k, metric="dot").collect()

    short_set = {(r.query_id, r.vec_id) for r in short}
    assert all((r.query_id, r.vec_id) in short_set for r in rer)

    # exact scores: compare against the brute-force dot for the same pairs
    exact_all = {
        (r.query_id, r.vec_id): r.sim
        for r in knn_topk(q, emb, k=emb.count(), metric="dot").collect()
    }
    for r in rer:
        assert r.score == exact_all[(r.query_id, r.vec_id)]

    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(rows):
        hit = sum(1 for r in rows if r.vec_id in truth[r.query_id])
        return hit / sum(len(v) for v in truth.values())

    assert recall(rer) >= recall(adc)

    # the refine stage's defining property: per query, the reranked
    # top-k is EXACTLY the exact-dot top-k restricted to the shortlist
    # (same score-desc, id-asc tie-break) — refine repairs every ADC
    # ordering error inside the shortlist and can do nothing outside it
    short_by_q: dict = {}
    for r in short:
        short_by_q.setdefault(r.query_id, []).append(r.vec_id)
    rer_by_q: dict = {}
    for r in sorted(rer, key=lambda r: (r.query_id, r.rank)):
        rer_by_q.setdefault(r.query_id, []).append(r.vec_id)
    for qid, cands in short_by_q.items():
        want = sorted(cands, key=lambda v: (-exact_all[(qid, v)], v))[:k]
        assert rer_by_q[qid] == want


def test_ann_paths_tolerate_zero_and_null_vectors(spark):
    """Round-14 hardening: an all-zero embedding (norm 0) must score
    NULL-sim via try_divide instead of aborting under ANSI, and a NULL
    QUERY vector must emit no rows (the corpus side already maps NULL
    vectors to a NULL cell — unfiltered, the query side probed
    arbitrary cells and fabricated k NULL-sim neighbors)."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk,
        ann_lsh_topk,
        knn_topk,
        l2_normalize_sql,
    )

    dim = 8
    rows = [(i, [float((i + j) % 5) + 0.5 for j in range(dim)]) for i in range(20)]
    rows.append((100, [0.0] * dim))  # zero vector in the corpus
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, rows[0][1]), (1, None)], "query_id long, embedding array<double>"
    )
    out = ann_ivf_topk(q, corpus, k=3, dim=dim, n_cells=4, nprobe=4)
    got = {r.query_id for r in out.collect()}
    assert got == {0}  # NULL-vector query emits nothing; job survives
    out2 = ann_lsh_topk(q, corpus, k=3, dim=dim)
    assert {r.query_id for r in out2.collect()} == {0}
    # l2_normalize_sql of the zero vector: all-NULL, not a crash
    z = corpus.filter("vec_id = 100").selectExpr(
        f"{l2_normalize_sql('embedding')} AS n"
    ).collect()[0].n
    assert all(v is None for v in z)


def test_knn_topk_rejects_unknown_metric(spark):
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import knn_topk

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<double>")
    with pytest.raises(ValueError, match="metric"):
        knn_topk(q, df, k=1, metric="cosin")


def test_pq_encode_rejects_overlength_vectors(spark):
    """The per-subspace slice guards catch UNDER-length vectors; the
    total-size guard must catch OVER-length ones too (a 12-dim vector
    used to be silently encoded from its first 8 components)."""
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import pq_codebook, pq_encode

    books = [pq_codebook(j, 4, 4) for j in range(2)]  # dim 8
    ok = spark.createDataFrame([(1, [0.1] * 8)], "vec_id long, embedding array<double>")
    assert len(pq_encode(ok, books).collect()[0].codes) == 2
    over = spark.createDataFrame([(2, [0.1] * 12)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="8-dim"):
        pq_encode(over, books).collect()
