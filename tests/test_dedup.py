from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
    dedup_corpus,
    dedup_exact,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox leaps over the lazy dog"),  # near dup
    (4, "completely different content about spark engines"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact(spark, docs):
    out = {r.doc_id: (r.canonical_id, r.group_size) for r in dedup_exact(docs).collect()}
    assert out[1] == (1, 2)
    assert out[2] == (1, 2)
    assert out[3] == (3, 1)
    assert out[4] == (4, 1)


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sigs = {r.doc_id: tuple(r[i] for i in range(1, 17)) for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    # near-dup (shingle Jaccard 0.4) shares ~Jaccard*16 slots; unrelated ~0
    shared_near = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    shared_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert shared_near >= 4 > shared_far


def test_lsh_pairs_find_dups(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.n_bands for r in lsh_candidate_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 4  # identical -> collide in all bands
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_simhash_distance(spark, docs):
    sh = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert sh[1] == sh[2]
    ham = bin(sh[1] ^ sh[3]).count("1")
    assert ham <= 6  # near-dup -> small hamming distance
    assert 0 <= sh[4] < 2**16


def test_ngram_jaccard(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert 0.3 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs  # no shared 3-gram shingles


def test_connected_components_toy_graph(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 8]], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components(verts, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_connected_components_chain_needs_iterations(spark):
    # a long path graph exercises multi-round propagation + convergence
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    n = 40
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    rows = connected_components(verts, edges).collect()
    assert {r.component_id for r in rows} == {0}
    assert len(rows) == n


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    # 20 identical boilerplate docs (one giant bucket) + 1 real dup pair
    boiler = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(20)]
    real = [(100, "a unique document about spark engines"),
            (101, "a unique document about spark engines")]
    df = spark.createDataFrame(boiler + real, "doc_id long, text string")
    uncapped = lsh_candidate_pairs(df).count()
    assert uncapped == (20 * 19) // 2 + 1
    capped = lsh_candidate_pairs(df, max_bucket_size=5).collect()
    # the degenerate bucket is gone; the real pair survives
    assert {(r.doc_a, r.doc_b) for r in capped} == {(100, 101)}


def test_ngram_jaccard_df_cap_drops_stop_shingles(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # every doc shares the stop-shingle "the quick fox"; only 1-2 truly overlap
    docs = [
        (1, "the quick fox alpha beta gamma"),
        (2, "the quick fox alpha beta delta"),
        (3, "the quick fox zeta eta theta"),
        (4, "the quick fox iota kappa lam"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df).collect()
    assert len(uncapped) == 6  # all pairs share the stop-shingle
    # cap at df=3: the shingle hitting all 4 docs is dropped, so only the
    # pair with a genuine extra overlap ("quick fox alpha"/"fox alpha beta")
    # remains
    capped = ngram_jaccard_pairs(df, df_cap=3).collect()
    assert {(r.doc_a, r.doc_b) for r in capped} == {(1, 2)}


def test_blocked_near_dup_is_subset_of_exact_with_same_scores(spark):
    import random

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    rows = [(i, v) for i, v in enumerate(base)]
    # planted near-dups: tiny perturbations of vectors 0..4
    rows += [(100 + i, [x + 0.01 for x in base[i]]) for i in range(5)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {
        (r.vec_a, r.vec_b): round(r.cos_sim, 9)
        for r in embedding_near_dup_pairs(emb, 0.99, exact=True).collect()
    }
    blocked = {
        (r.vec_a, r.vec_b): round(r.cos_sim, 9)
        for r in embedding_near_dup_pairs(emb, 0.99, dim=16).collect()
    }
    # every blocked pair is a true pair with the identical exact score
    for pair, sim in blocked.items():
        assert exact[pair] == sim
    # the planted near-identical pairs must be recalled
    planted = {(i, 100 + i) for i in range(5)}
    assert planted <= set(blocked), f"missed {planted - set(blocked)}"


def test_embedding_near_dup_bucket_cap(spark):
    """max_bucket_size drops oversized (table, bucket) groups before the
    self-join: a degenerate bucket (here: the same vector replicated 30x
    — all copies collide in every table) must stop emitting its
    quadratic pair set, while pairs in small buckets survive with their
    exact scores."""
    import random

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rng = random.Random(11)
    hot = [rng.uniform(-1, 1) for _ in range(16)]
    cold = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(i, hot) for i in range(30)]  # 30 identical copies -> 435 pairs
    rows += [(100, cold), (101, [x + 0.01 for x in cold])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    uncapped = embedding_near_dup_pairs(emb, 0.99, dim=16).collect()
    capped = embedding_near_dup_pairs(
        emb, 0.99, dim=16, max_bucket_size=8
    ).collect()
    hot_pairs = lambda rs: {(r.vec_a, r.vec_b) for r in rs if r.vec_a < 100}
    assert len(hot_pairs(uncapped)) == 30 * 29 // 2
    assert not hot_pairs(capped), "cap failed to drop the degenerate bucket"
    # the small-bucket planted pair survives the cap with its exact score
    cold_pair = {(r.vec_a, r.vec_b): round(r.cos_sim, 9) for r in capped}
    assert (100, 101) in cold_pair


def test_connected_components_handles_dangling_endpoints(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    verts = spark.createDataFrame([(1,), (2,), (5,)], ["doc_id"])
    # edge endpoint 9 is absent from verts; 2-9 and 9-5 chain 2,5,9 together
    edges = spark.createDataFrame([(2, 9), (9, 5)], ["doc_a", "doc_b"])
    out = {r.doc_id: r.component_id for r in connected_components(verts, edges).collect()}
    assert out == {1: 1, 2: 2, 5: 2, 9: 2}


def test_connected_components_property_matches_union_find(spark):
    """Differential property check of the iterative pointer-jumping
    closure against a driver-side union-find, over random graphs
    (including self-loops, duplicate edges, dangling endpoints, and
    isolated vertices). This is the correctness net for exactly the
    code the plan guard can't see end-to-end (per-round checkpoints
    truncate the plan): min-label propagation must assign every vertex
    the MINIMUM reachable id, whatever the edge topology."""
    import random

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    def union_find_components(vertex_ids, edge_list):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # component id = min member id
        comp_min = {}
        for v in set(vertex_ids) | {x for e in edge_list for x in e}:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        return {
            v: comp_min[find(v)]
            for v in set(vertex_ids) | {x for e in edge_list for x in e}
        }

    rng = random.Random(1234)
    for trial in range(4):
        n = rng.randint(1, 40)
        verts = rng.sample(range(1000), n)
        m = rng.randint(0, 60)
        edges = [
            (rng.choice(range(1000)), rng.choice(verts)) for _ in range(m)
        ]  # endpoints may dangle outside verts; self-loops and dupes allowed
        if not edges:  # keep the edge frame non-empty via a no-op self-loop
            edges = [(verts[0], verts[0])]
        expected = union_find_components(verts, edges)
        vdf = spark.createDataFrame([(v,) for v in verts], ["doc_id"])
        edf = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {
            r.doc_id: r.component_id
            for r in connected_components(vdf, edf).collect()
        }
        assert got == expected, f"trial {trial}: {got} != {expected}"


def _cc_tiers(spark, verts, edges, id_type="bigint", edge_type=None):
    """Run connected_components on the driver tier (default threshold)
    and on the distributed loop (autoBroadcastJoinThreshold=-1); return
    both sorted row lists. Asserts each run took the intended tier: the
    loop's result is a checkpoint that still carries its ``_changed``
    flag, the driver tier's is an aggregate over the labels relation."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    def run():
        vdf = spark.createDataFrame(verts, f"doc_id {id_type}")
        et = edge_type or id_type
        edf = spark.createDataFrame(edges, f"doc_a {et}, doc_b {et}")
        out = connected_components(vdf, edf)
        loop = "_changed" in out._jdf.queryExecution().optimizedPlan().toString()
        return loop, sorted(
            (tuple(r) for r in out.collect()), key=lambda t: (t[0] is None, t)
        )

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    driver_loop, driver = run()
    spark.conf.set(key, "-1")
    try:
        loop_loop, loop = run()
    finally:
        spark.conf.set(key, prev)
    assert not driver_loop and loop_loop
    return driver, loop


_CHAIN = [(i, i + 1) for i in range(39)]

_CC_TIER_CASES = {
    "empty_edges": ([(1,), (2,)], [], "bigint"),
    "self_loops_and_duplicate_edges": (
        [(1,), (2,), (3,), (4,)],
        [(1, 1), (1, 2), (2, 1), (1, 2), (4, 4), (4, 4)],
        "bigint",
    ),
    # 40 vertices: longer than the loop's 25-round cap in plain
    # propagation, so pointer jumping has to do the work
    "chain_40": ([(i,) for i in range(40)], _CHAIN[::-1], "bigint"),
    "stars": (
        [(i,) for i in range(30)],
        [(5, i) for i in range(6, 15)] + [(i, 20) for i in range(21, 30)],
        "bigint",
    ),
    "dangling_endpoints": ([(1,), (2,), (5,)], [(2, 9), (9, 5), (7, 8)], "bigint"),
    "duplicate_vertex_rows": ([(1,), (1,), (2,), (3,), (3,)], [(1, 2)], "bigint"),
    # '01' and '1' are distinct ids; '01' < '1' < '10' < '9' as strings
    "string_ids": (
        [("1",), ("01",), ("9",), ("10",), ("x",)],
        [("1", "9"), ("9", "10"), ("01", "x")],
        "string",
    ),
    # the loop compares ids in the vertex/edge union type (BIGINT under
    # ANSI coercion): 9 < 10 although '10' < '9', and '01' and '1' are
    # the same vertex 1
    "string_edges_bigint_vertices": (
        [(2,), (9,), (10,)],
        [("10", "9"), ("01", "2"), ("1", "5")],
        "bigint",
        "string",
    ),
    # NULL never equals an id, so it links nothing; the NULL vertex
    # absorbs the min label of its non-NULL neighbors on both tiers
    "null_ids": (
        [(1,), (None,), (4,), (None,)],
        [(None, 3), (3, 2), (None, 7), (4, None), (None, None), (8, 9)],
        "bigint",
    ),
}


@pytest.mark.parametrize("case", list(_CC_TIER_CASES))
def test_connected_components_tiers_agree(spark, case):
    driver, loop = _cc_tiers(spark, *_CC_TIER_CASES[case])
    assert driver == loop


def test_connected_components_tier_cases_pin_expected_labels(spark):
    # the agreement test above would pass if both tiers were wrong the
    # same way; spot-check the cases whose answer is least obvious
    driver, _ = _cc_tiers(spark, *_CC_TIER_CASES["string_ids"])
    assert dict(driver) == {
        "01": "01", "x": "01", "1": "1", "9": "1", "10": "1"
    }
    driver, _ = _cc_tiers(spark, *_CC_TIER_CASES["null_ids"])
    assert dict(driver) == {
        1: 1, 2: 2, 3: 2, 4: 4, 7: 7, 8: 8, 9: 8, None: 2
    }


def test_connected_components_tiers_agree_on_random_graphs(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ids = st.integers(min_value=0, max_value=30)

    @settings(max_examples=6, deadline=None)
    @given(
        verts=st.lists(ids, max_size=20),
        edges=st.lists(st.tuples(ids, ids), max_size=25),
    )
    def check(verts, edges):
        driver, loop = _cc_tiers(spark, [(v,) for v in verts], edges)
        assert driver == loop

    check()


def test_connected_components_byte_bound_picks_the_tier(spark):
    """The driver tier fires iff the undirected edge list's payload is
    at most autoBroadcastJoinThreshold bytes: 2 edges -> 4 directed
    rows x 2 BIGINT ids x 8 bytes = 64 bytes. Pins off keeps the loop."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        pinning_disabled,
    )

    vdf = spark.createDataFrame([(1,), (2,), (3,)], "doc_id bigint")
    edf = spark.createDataFrame([(1, 2), (2, 3)], "doc_a bigint, doc_b bigint")

    def is_loop():
        out = connected_components(vdf, edf)
        return "_changed" in out._jdf.queryExecution().optimizedPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "64")
        assert not is_loop()
        spark.conf.set(key, "63")
        assert is_loop()
        spark.conf.set(key, prev)
        with pinning_disabled():
            assert is_loop()
    finally:
        spark.conf.set(key, prev)


def test_dedup_corpus_collapses_exact_and_near_dups(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra"),  # near dup of 1 (shares 18/19 shingles)
        (4, "totally unrelated words about nothing in particular today"),
        (5, "hi"),  # too short to shingle — LSH skips it
        (6, "hi"),  # exact dup of 5: digest edge must still collapse it
    ]
    out = dedup_corpus(spark.createDataFrame(rows, ["doc_id", "text"]))
    got = {r.doc_id: (r.component_id, r.keep) for r in out.collect()}
    assert got[1] == (1, True)
    assert got[2] == (1, False)  # exact dup collapses
    assert got[3] == (1, False)  # near dup joins through an LSH edge
    assert got[4] == (4, True)
    assert got[5] == (5, True)
    assert got[6] == (5, False)  # shingle-less exact dup collapses
    assert sorted(d for d, (_c, k) in got.items() if k) == [1, 4, 5]


def test_dedup_corpus_precision_controls(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # doc 3 is a weak near-dup: shares a minority of shingles with 1
    weak = (
        "alpha beta gamma delta epsilon zeta qqq www eee rrr "
        "ttt yyy uuu iii ooo ppp aaa sss ddd fff"
    )
    rows = [(1, base), (2, base + " extra"), (3, weak)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # permissive default may or may not link 3; exact-Jaccard
    # verification at 0.5 must keep the strong pair and drop the weak
    out = dedup_corpus(df, verify_jaccard=0.5)
    got = {r.doc_id: r.component_id for r in out.collect()}
    assert got[1] == got[2] == 1  # 18/19 shingles shared -> verified
    assert got[3] == 3  # weak overlap fails verification

    # min_bands=5 > LSH_BANDS removes ALL near edges (even all-band
    # collisions); only exact-digest edges remain, so every non-exact
    # pair must split
    out2 = dedup_corpus(df, min_bands=5)
    got2 = {r.doc_id: r.component_id for r in out2.collect()}
    assert got2 == {1: 1, 2: 2, 3: 3}


def test_chunk_dedup_keeps_first_occurrence(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import chunk_dedup

    boiler = " ".join(f"b{i}" for i in range(4))  # shared boilerplate chunk
    uniq1 = " ".join(f"u{i}" for i in range(4))
    uniq2 = " ".join(f"v{i}" for i in range(4))
    df = spark.createDataFrame(
        [
            (1, boiler + " " + uniq1),  # chunks: [boiler, uniq1]
            (2, boiler + " " + uniq2),  # boiler duplicate -> dropped
            (3, boiler),                # entirely duplicate -> empty
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in chunk_dedup(df, chunk_words=4).collect()
    }
    assert out[1].text_dedup == boiler + " " + uniq1
    assert (out[1].n_chunks_kept, out[1].n_chunks_orig) == (2, 2)
    assert out[2].text_dedup == uniq2
    assert (out[2].n_chunks_kept, out[2].n_chunks_orig) == (1, 2)
    assert out[3].text_dedup == ""
    assert (out[3].n_chunks_kept, out[3].n_chunks_orig) == (0, 1)


def test_incremental_dedup_drops_chunk_overlap(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import incremental_dedup

    boiler = " ".join(f"b{i}" for i in range(4))
    existing = spark.createDataFrame(
        [(1, boiler + " " + " ".join(f"e{i}" for i in range(4)))],
        ["doc_id", "text"],
    )
    new_batch = spark.createDataFrame(
        [
            (10, " ".join(f"n{i}" for i in range(8))),      # novel -> kept
            (11, boiler + " " + " ".join(f"m{i}" for i in range(4))),  # shares boiler -> dropped
            (12, boiler.upper()),                            # chunking lowercases -> dropped
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r.doc_id
        for r in incremental_dedup(new_batch, existing, chunk_words=4).collect()
    )
    assert kept == [10]
    # empty existing corpus keeps everything
    empty = existing.filter("doc_id < 0")
    assert incremental_dedup(new_batch, empty, chunk_words=4).count() == 3


def test_chunk_dedup_plan_is_skew_safe(spark):
    """chunk_dedup's contract: the per-digest winner comes from a
    map-side-combining aggregation + equi-join (AQE skew-splittable),
    never a digest-keyed Window (which would sort every copy of a hot
    boilerplate chunk in one task)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import chunk_dedup

    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    out = chunk_dedup(df, chunk_words=3)
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    assert "Window" not in plan
    # partial agg for the winner: HashAggregate appears below AND above
    # its Exchange (map-side combine)
    assert "partial_min" in plan or "HashAggregate" in plan
    # tree-node count only; the winner agg + flag join + doc regroup
    assert plan.count("+- Exchange") <= 4


def test_duplicated_spans_planted_boilerplate(spark):
    """Lee et al. 2021-style span dedup: a boilerplate sentence pasted
    into two otherwise-unique docs must surface as ONE maximal region
    per doc at the right token offset/length; internal repetition
    within a single doc and unique docs must not."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
    )

    boiler = (
        "this license text is copied verbatim into many documents for"
        " testing"
    )  # 11 tokens
    docs = spark.createDataFrame(
        [
            (1, "unique alpha words " + boiler + " trailing unique beta"),
            (2, boiler + " totally different content follows here now"),
            (3, "no duplication at all in this one just single words"),
            # internal repetition only -- never crosses min_docs=2 docs
            (4, " ".join(["repeat"] * 12)),
            (5, "short"),  # < k tokens: no spans at all
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.region_start, r.region_len, r.n_spans)
        for r in duplicated_spans(docs, k=5).collect()
    }
    # doc 1: 3 lead tokens, boilerplate = tokens 4..14 -> 7 spans of 5
    # doc 2: boilerplate at 1..11
    assert out == {1: (4, 11, 7), 2: (1, 11, 7)}
    # adjacent planted regions merge into one maximal region
    two = spark.createDataFrame(
        [(1, boiler + " " + boiler), (2, boiler)], ["doc_id", "text"]
    )
    merged = {
        r.doc_id: (r.region_start, r.region_len)
        for r in duplicated_spans(two, k=5).collect()
    }
    assert merged[1] == (1, 22)
    with pytest.raises(ValueError, match="k must be >= 2"):
        duplicated_spans(two, k=1)
    with pytest.raises(ValueError, match="min_docs must be >= 2"):
        duplicated_spans(two, k=5, min_docs=1)


def test_strip_duplicated_spans_removes_boilerplate(spark):
    """The APPLY step: boilerplate regions removed from every doc (all
    occurrences), unique docs untouched (n_dropped 0, token-normalized
    text), whole-duplicate docs stripped to empty string."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        strip_duplicated_spans,
    )

    boiler = (
        "this license text is copied verbatim into many documents for"
        " testing"
    )
    docs = spark.createDataFrame(
        [
            (1, "Unique Alpha words " + boiler + " trailing unique beta"),
            (2, boiler + " totally different content follows here now"),
            (3, "no duplication at all in this one just single words"),
            (4, boiler),  # whole doc duplicated -> empty after strip
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_dropped)
        for r in strip_duplicated_spans(docs, k=5).collect()
    }
    assert out[1] == ("unique alpha words trailing unique beta", 11)
    assert out[2] == ("totally different content follows here now", 11)
    assert out[3] == (
        "no duplication at all in this one just single words", 0
    )
    assert out[4] == ("", 11)


def test_duplicated_spans_min_region_len(spark):
    """Lee et al. act only on duplicated runs >= a token threshold:
    min_region_len drops short merged regions post-merge; at or below
    k it is a no-op (the index can't see shorter runs anyway)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
    )

    short = "alpha beta gamma delta epsilon"  # 5 tokens, shared
    lng = " ".join(f"w{i}" for i in range(12))  # 12 tokens, shared
    docs = spark.createDataFrame(
        [
            (1, short + " unique one " + lng),
            (2, lng + " other tail " + short),
        ],
        ["doc_id", "text"],
    )
    allr = duplicated_spans(docs, k=5).collect()
    lens = sorted(r.region_len for r in allr)
    assert lens == [5, 5, 12, 12]
    kept = duplicated_spans(docs, k=5, min_region_len=10).collect()
    assert sorted(r.region_len for r in kept) == [12, 12]
    # threshold <= k is a no-op
    noop = duplicated_spans(docs, k=5, min_region_len=5).collect()
    assert sorted(r.region_len for r in noop) == lens


def test_strip_duplicated_spans_planted_fixpoint(spark):
    """On the planted-boilerplate corpus, one strip pass reaches a
    fixpoint: re-indexing the stripped corpus finds no duplicated
    spans. (Not a general invariant — removing a middle region can
    splice flanking tokens into a NEW shared k-span, which is why Lee
    et al. iterate — but for disjoint planted boilerplate the single
    pass must converge.)"""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    boiler = (
        "this license text is copied verbatim into many documents for"
        " testing"
    )
    docs = spark.createDataFrame(
        [
            (1, "unique alpha words " + boiler + " trailing unique beta"),
            (2, boiler + " totally different content follows here now"),
            (3, "no duplication at all in this one just single words"),
        ],
        ["doc_id", "text"],
    )
    stripped = strip_duplicated_spans(docs, k=5).select("doc_id", "text")
    assert duplicated_spans(stripped, k=5).count() == 0


def test_duplicated_spans_counts_distinct_docs_not_rows(spark):
    """Round-10 review regression: a caller passing DUPLICATE doc_id
    rows (nothing validates uniqueness) must not see a span flagged as
    cross-document-duplicated just because the same document appears
    twice — the min_docs semantic is count(DISTINCT doc_id), exactly
    what the DuckDB oracle computes."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
    )

    text = "one two three four five six seven eight"
    same_doc_twice = spark.createDataFrame(
        [(1, text), (1, text)], ["doc_id", "text"]
    )
    assert duplicated_spans(same_doc_twice, k=8).count() == 0
    # a genuine second document still flags
    two_docs = spark.createDataFrame(
        [(1, text), (2, text)], ["doc_id", "text"]
    )
    regions = duplicated_spans(two_docs, k=8).collect()
    assert sorted(r.doc_id for r in regions) == [1, 2]


def test_strip_duplicated_spans_raw_preserves_original_bytes(spark):
    """The original-fidelity APPLY step (round-11): kept text must be
    byte-identical to the input outside the cut character ranges —
    casing, punctuation, tabs, and multiple spaces intact — and docs
    with no duplicated regions must round-trip the WHOLE string
    byte-identically (the token-space variant normalizes even those)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        strip_duplicated_spans_raw,
    )

    boiler = "This LICENSE text, is COPIED (verbatim) into many docs!"
    keep1 = "Alpha START.\tKeeps\ttabs &  double  spaces;"
    tail1 = "  Trailing CASE stays."
    unique = "No duplication  in THIS one — just  original bytes . . ."
    docs = spark.createDataFrame(
        [
            (1, f"{keep1} {boiler}{tail1}"),
            (2, f"{boiler} other tail words here now entirely different"),
            (3, unique),
            (4, boiler),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_dropped)
        for r in strip_duplicated_spans_raw(docs, k=5).collect()
    }
    nb = 9  # boiler token count
    # cut is exactly the boiler's characters: the space before it and
    # the original tail after it survive byte-for-byte
    assert out[1] == (f"{keep1} {tail1}", nb)
    assert out[2] == (" other tail words here now entirely different", nb)
    assert out[3] == (unique, 0)  # byte-identical pass-through
    assert out[4] == ("", nb)


def test_strip_duplicated_spans_raw_mid_doc_multiple_regions(spark):
    """Two disjoint duplicated regions in one doc: both cut at exact
    character ranges, segments between/around them untouched, and
    n_dropped sums both region lengths."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        strip_duplicated_spans_raw,
    )

    r1 = "alpha beta gamma delta epsilon"  # 5 tokens
    r2 = "One Two THREE four Five!"  # 5 tokens
    docs = spark.createDataFrame(
        [
            (1, f"Head-A  {r1} MIDDLE untouched {r2}  Tail-Z"),
            (2, f"{r1} filler filler2 filler3 filler4 filler5 {r2}"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_dropped)
        for r in strip_duplicated_spans_raw(docs, k=5).collect()
    }
    assert out[1] == ("Head-A   MIDDLE untouched   Tail-Z", 10)
    assert out[2] == (" filler filler2 filler3 filler4 filler5 ", 10)


def test_semantic_dedup_planted_clusters(spark):
    """SemDeDup: planted near-duplicate embedding clusters collapse to
    their lowest-id representative; isolated vectors survive; the
    max_cell_size hygiene cap excludes oversized cells from pairing
    (conservative — members stay kept)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    def perturb(v, eps, j):
        out = list(v)
        out[j] = out[j] + eps
        return out

    c1 = [1.0, 0.1, 0.0, 0.0, 0.2, 0.0, 0.0, 0.1]
    c2 = [0.0, 0.0, 1.0, 0.3, 0.0, 0.0, 0.2, 0.0]
    lone = [0.0, 0.5, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0]
    rows = [
        (10, c1),
        (11, perturb(c1, 0.01, 1)),
        (12, perturb(c1, -0.01, 4)),
        (20, c2),
        (21, perturb(c2, 0.01, 3)),
        (30, lone),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # explicit centroids (the train/freeze/apply seam): one per planted
    # cluster, so each cluster gets its own cell deterministically
    cents = [c1, c2, lone]
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            emb, threshold=0.99, dim=8, centroids=cents
        ).collect()
    }
    assert len(out) == 6  # one row per input vector
    assert [out[i].keep for i in (10, 20, 30)] == [True, True, True]
    assert not out[11].keep and out[11].dup_of == 10
    assert not out[12].keep and out[12].dup_of == 10
    assert not out[21].keep and out[21].dup_of == 20
    assert out[11].cos_max > 0.99
    # near-identical vectors share the argmax-dot cell
    assert out[10].cell == out[11].cell == out[12].cell
    # kept rows carry NULL attribution
    assert out[10].dup_of is None and out[10].cos_max is None
    # hygiene cap: the 3-member c1 cell exceeds a cap of 2 -> excluded
    # from pairing, all its members conservatively kept; the 2-member
    # c2 cell still dedups
    capped = {
        r.vec_id: r.keep
        for r in semantic_dedup(
            emb, threshold=0.99, dim=8, centroids=cents, max_cell_size=2
        ).collect()
    }
    assert capped[10] and capped[11] and capped[12]
    assert capped[20] and not capped[21]


def test_semantic_dedup_chain_drops_via_dropped_neighbor(spark):
    """The released-SemDeDup chain rule, pinned: in a similarity chain
    a~b~c where a and c are NOT near-dups of each other, b drops via a
    and c drops via the already-dropped b — dup_of may reference a
    dropped row, and only the chain head survives (more aggressive
    than one-per-connected-component, as the docstring states)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    # unit vectors in a 2D plane packed into dim=4: angles 0, 25, 50
    # degrees -> cos(a,b)=cos(b,c)~0.906 >= 0.9, cos(a,c)~0.643 < 0.9
    import math

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    emb = spark.createDataFrame(
        [(1, vec(0)), (2, vec(25)), (3, vec(50))],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            emb, threshold=0.9, dim=4, centroids=[vec(25)]
        ).collect()
    }
    assert out[1].keep and not out[2].keep and not out[3].keep
    assert out[2].dup_of == 1
    assert out[3].dup_of == 2  # points at a row that was itself dropped


def test_resolve_survivors_keeps_best_member(spark):
    """Quality-aware survivor selection (round-12 verdict item 4):
    the HIGHEST-scoring member of each cluster survives, ties break to
    the lowest doc_id, NULL/missing scores sort last, and an
    all-unscored cluster degrades to exactly the min-id rule."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        resolve_survivors,
    )

    comp = spark.createDataFrame(
        [
            # cluster 1: doc 3 has the best score -> survives over min-id 1
            (1, 1), (2, 1), (3, 1),
            # cluster 4: tie on score -> lowest id 4 survives
            (4, 4), (5, 4),
            # cluster 6: member 7 unscored (absent from scores) -> 6 wins
            (6, 6), (7, 6),
            # cluster 8: ALL members unscored -> min-id rule
            (8, 8), (9, 8),
        ],
        "doc_id long, component_id long",
    )
    scores = spark.createDataFrame(
        [(1, 0.1), (2, 0.5), (3, 0.9), (4, 0.7), (5, 0.7), (6, 0.2)],
        "doc_id long, score double",
    )
    got = {
        r.doc_id: r.keep for r in resolve_survivors(comp, scores).collect()
    }
    assert got == {
        1: False, 2: False, 3: True,
        4: True, 5: False,
        6: True, 7: False,
        8: True, 9: False,
    }


def test_dedup_corpus_survivor_scores_promotes_best(spark):
    """dedup_corpus(survivor_scores=...) keeps the max-score member of
    each duplicate cluster instead of the min-id default — the
    behavioral difference the dedup_corpus_best gate composes (there
    with the Gopher quality heuristic as the score)."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),
        (2, base + " extra"),  # near dup of 1, higher id, HIGHER score
        (3, "totally unrelated words about nothing in particular today"),
        (5, "hi"),
        (6, "hi"),  # exact dup of 5, equal score -> tie-break keeps 5
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.8), (3, 0.5), (5, 0.4), (6, 0.4)],
        "doc_id long, score double",
    )
    out = dedup_corpus(df, survivor_scores=scores)
    got = {r.doc_id: (r.component_id, r.keep) for r in out.collect()}
    assert got[1] == (1, False)  # min-id member loses to the better copy
    assert got[2] == (1, True)
    assert got[3] == (3, True)
    assert got[5] == (5, True)   # equal scores -> deterministic min-id
    assert got[6] == (5, False)
    # default rule on the same corpus keeps 1, not 2 — the policies differ
    dflt = {r.doc_id: r.keep for r in dedup_corpus(df).collect()}
    assert dflt[1] and not dflt[2]


def test_semantic_dedup_auto_assign_tiers(spark):
    """vectors.assign_cells (semantic_dedup's cell assignment) picks its
    tier from the centroid count alone: literal up to CELL_LITERAL_MAX,
    bit-exact table fold up to CELL_EXACT_AUTO_MAX, Arrow/GEMM past it
    — paper-scale cell counts get the fast path without the caller
    asking. Read from the built plan at both sides of each ceiling
    (dim 2: the ceilings count cells, not literals)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        CELL_EXACT_AUTO_MAX,
        CELL_LITERAL_MAX,
        assign_cells,
        ivf_centroid,
    )

    assert CELL_LITERAL_MAX < 800, (
        "literal ceiling must sit below the 800-cell point where the "
        "round-11 probe measured ~130MB task binaries + an OOM"
    )
    one = spark.createDataFrame([(1, [0.5, -0.25])], "vec_id int, _v array<double>")
    cents = [ivf_centroid(c, 2) for c in range(CELL_EXACT_AUTO_MAX + 1)]

    def tier(n_cells):
        df = assign_cells(one, cents[:n_cells], "_v")
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "ArrowEvalPython" in plan:
            return "arrow"
        return "table" if "BroadcastNestedLoopJoin" in plan else "literal"

    assert tier(CELL_LITERAL_MAX) == "literal"
    assert tier(CELL_LITERAL_MAX + 1) == "table"
    assert tier(CELL_EXACT_AUTO_MAX) == "table"
    assert tier(CELL_EXACT_AUTO_MAX + 1) == "arrow"


def test_semantic_dedup_auto_arrow_matches_forced_arrow(spark):
    """Past CELL_EXACT_AUTO_MAX, semantic_dedup must take the GEMM path:
    every vector lands in the cell assign_cells_arrow gives it on a
    corpus with planted exact duplicates, and each planted copy drops
    in favour of its lower-id original, at a cell count where the
    interpreted folds would be the wrong default."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        CELL_EXACT_AUTO_MAX,
        assign_cells_arrow,
        ivf_centroid,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(40)
    )
    corpus = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100000))
    cents = [
        ivf_centroid(c, 64) for c in range(CELL_EXACT_AUTO_MAX + 8)
    ]
    auto = {
        r.vec_id: r
        for r in semantic_dedup(
            corpus, threshold=0.999, dim=64, centroids=cents
        ).collect()
    }
    forced = {
        r.vec_id: r._cell
        for r in assign_cells_arrow(corpus, cents, "embedding").collect()
    }
    assert {v: r.cell for v, r in auto.items()} == forced
    for r in emb.select("vec_id").collect():
        assert auto[r.vec_id].keep
        assert auto[r.vec_id + 100000].dup_of == r.vec_id


def test_resolve_survivors_duplicate_score_rows_cannot_multiply(spark):
    """Round-13 ADVICE: a doubled ledger row in survivor_scores must not
    multiply cluster members through the left join — scores collapse to
    max-per-doc before joining, output stays one row per member and
    exactly one keep per cluster. Also: the max of a (NULL, value) pair
    is the value, and an all-NULL duplicate pair stays NULL."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        resolve_survivors,
    )

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)],
        "doc_id long, component_id long",
    )
    scores = spark.createDataFrame(
        [
            (1, 0.2), (1, 0.2),          # exact duplicate row
            (2, 0.1), (2, 0.9),          # conflicting rows -> max wins
            (3, None), (3, 0.5),         # NULL + value -> value
            (4, None), (4, None),        # all NULL stays NULL
        ],
        "doc_id long, score double",
    )
    rows = resolve_survivors(comp, scores).collect()
    assert len(rows) == 4  # no multiplication
    got = {r.doc_id: r.keep for r in rows}
    # cluster 1: doc 2's max(0.1, 0.9)=0.9 beats doc 1's 0.2
    # cluster 3: doc 3's 0.5 beats doc 4's NULL (NULLS LAST)
    assert got == {1: False, 2: True, 3: True, 4: False}


def test_zero_vector_never_dedups_and_never_crashes(spark):
    """ANSI regression: an all-zero embedding has L2 norm 0 and the bare
    cosine division used to abort the whole job with DIVIDE_BY_ZERO;
    try_divide gives NULL cosine (the oracle's nullif semantics), so a
    zero vector is similar to nothing and everything else still pairs."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_dedup,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import ivf_centroid

    dim = 8
    base = [1.0] * dim
    rows = [
        (0, base),
        (1, list(base)),          # exact dup of 0
        (2, [0.0] * dim),         # zero vector
        (3, [-1.0] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [ivf_centroid(c, dim) for c in range(2)]
    out = {r.vec_id: r.keep for r in semantic_dedup(
        df, threshold=0.95, dim=dim, centroids=cents
    ).collect()}
    assert out[0] and not out[1]   # the real dup still drops
    assert out[2] and out[3]       # zero vector kept, dedups nothing
    pairs = embedding_near_dup_pairs(
        df, threshold=0.9, dim=dim, exact=True
    ).collect()
    assert {(p.vec_a, p.vec_b) for p in pairs} == {(0, 1)}


def test_chunk_dedup_keeps_chunkless_docs_on_the_spine(spark):
    """One output row per INPUT doc: empty / whitespace / NULL text
    produces zero chunks and used to vanish from the reassembled
    corpus entirely."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import chunk_dedup

    words = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(0, words), (1, ""), (2, "   "), (3, None), (4, words)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in chunk_dedup(df, chunk_words=32).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    for d in (1, 2, 3):
        assert rows[d].text_dedup == ""
        assert rows[d].n_chunks_kept == 0 and rows[d].n_chunks_orig == 0
    assert rows[0].n_chunks_kept == 2      # first copy keeps its chunks
    assert rows[4].n_chunks_kept == 0      # exact-dup doc fully deduped


def test_ngram_jaccard_df_cap_scores_capped_space_consistently(spark):
    """With df_cap, BOTH the intersection and the per-doc sizes live in
    the capped shingle space: two identical boilerplate-heavy docs must
    still score jaccard 1.0 (mixed uncapped-sizes/capped-intersection
    scoring used to push them far below any dedup threshold)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    hot = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, hot + f" unique tail {i} {i} {i} alpha beta gamma") for i in range(6)]
    docs += [(100, hot + " shared cold suffix here today"),
             (101, hot + " shared cold suffix here today")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, df_cap=6).collect()
    }
    assert pairs[(100, 101)] == 1.0  # identical docs stay jaccard 1.0
