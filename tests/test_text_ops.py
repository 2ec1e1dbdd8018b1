

"""Unit tests for text-hygiene operators (cross-engine value parity is
covered by test_oracle_parity.py)."""

from __future__ import annotations


def test_quality_filter_flags_and_keep(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        quality_filter,
    )

    rows = [
        (0, "the data table is a good clean row of the set and it holds value"),
        (1, "tiny doc"),  # < 8 tokens
        (2, "spam spam spam spam spam spam spam spam spam spam spam spam"),  # repetitive
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in quality_filter(df).collect()}
    assert out[0].keep and not (out[0].is_too_short or out[0].is_repetitive)
    assert out[1].is_too_short and not out[1].keep
    assert out[2].is_repetitive and not out[2].keep
    # flags are consistent with keep by construction
    for r in out.values():
        assert r.keep == (not r.is_too_short and not r.is_low_quality
                          and not r.is_repetitive)


def test_vocab_entropy_known_values(spark):
    import math

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        vocab_entropy,
    )

    rows = [
        (0, "a a a a"),         # one token type -> H = 0
        (1, "a b c d"),         # uniform over 4 -> H = ln(4)
        (2, "a a b"),           # H = -(2/3 ln 2/3 + 1/3 ln 1/3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in vocab_entropy(df).collect()}
    assert out[0].entropy == 0.0 and out[0].n_distinct == 1
    assert out[1].entropy == round(math.log(4), 6)
    expected = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert abs(out[2].entropy - expected) < 1e-6


def test_quality_filter_pushed_predicate_tokenizes_once(spark):
    """Round-6 regression guard: filtering on `keep` pushes the
    predicate through the projection; before the let-binding fix the
    substitution inlined the tokenize pipeline ~30x (fresh lambda ids
    defeat codegen CSE — 42s for 5k docs at sf0.1). The whole plan must
    now contain at most a couple of tokenize occurrences."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import quality_filter

    df = spark.createDataFrame([(1, "the quick brown fox " * 10)], ["doc_id", "text"])
    out = quality_filter(df, "doc_id", "text").filter(F.col("keep"))
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    n_tokenize = plan.count("split(lower(")
    assert 1 <= n_tokenize <= 3, f"tokenize inlined {n_tokenize}x in plan"


def test_let_binding_basics(spark):
    """functions.binding.let_sql: value evaluated per-row, NULL passes
    through to the body, multi-reference bodies see one binding."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.functions.binding import let_sql

    df = spark.createDataFrame([("a b",), (None,)], "t string")
    # two refs, one binding
    twice = let_sql("split(t, ' ')", "tk", "size(tk) + size(tk)")
    rows = df.selectExpr(f"{twice} AS twice_n").collect()
    # NULL input -> the body runs on a NULL binding (size(NULL) = NULL),
    # matching the unbound expression's null behavior
    assert [r.twice_n for r in rows] == [4, None]
    # filtering on the result keeps the bound expression single: the
    # body's two references read one variable
    kept = df.filter(f"{twice} > 2")
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert [r.t for r in kept.collect()] == ["a b"]


def test_lm_cross_entropy_monotonicity(spark):
    """CCNet-style quality signal: text drawn from the reference LM's
    training distribution must score LOWER cross-entropy than
    gibberish (all-OOV tokens hit the pooled OOV log-prob, the worst
    per-token score the model can assign). Also checks the per-doc
    accounting and that empty docs emit no row."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        frozen_lm,
        lm_cross_entropy,
    )

    lm = frozen_lm()
    common = sorted(lm["logp"], key=lm["logp"].get, reverse=True)[:6]
    docs = spark.createDataFrame(
        [
            (1, " ".join(common * 3)),  # fluent: frequent in-vocab tokens
            (2, "zzqx9 vvkpt qqj0r wmx7z bbn3c yyh5d " * 3),  # gibberish
            (3, ""),  # no tokens -> no row
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in lm_cross_entropy(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_tokens == 18 and out[2].n_tokens == 18
    assert out[1].xent < out[2].xent
    # all-OOV gibberish scores exactly the pooled OOV log-prob
    assert abs(out[2].xent - (-lm["oov_logp"])) < 1e-5
    # ppl is exp(xent), derived from the rounded xent
    import math

    assert abs(out[1].ppl - round(math.exp(out[1].xent), 6)) < 1e-9


def test_frozen_lm_matches_live_training_slice():
    """Training-slice drift guard for the LM artifact (round-11
    verdict item 5, same contract as the quantizer's): a reseeded
    documents corpus fails here instead of the frozen table silently
    scoring a distribution it was never fit to; re-run
    tools/train_lm.py to refreeze."""
    import math

    from retrieval_augmented_generation_rag_data_pipeline_spark.functions.artifacts import (
        corpus_fingerprint,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        frozen_lm,
    )

    lm = frozen_lm()
    assert lm["vocab_size"] == len(lm["logp"]) > 0
    assert all(math.isfinite(v) and v < 0 for v in lm["logp"].values())
    # every in-vocab token beats OOV, and probabilities stay sub-unit
    assert max(lm["logp"].values()) < 0
    assert lm["oov_logp"] < min(lm["logp"].values())
    # total probability mass of the smoothed model is <= 1
    mass = sum(math.exp(v) for v in lm["logp"].values()) + math.exp(
        lm["oov_logp"]
    )
    assert mass <= 1.0 + 1e-9
    live = corpus_fingerprint(
        "/root/testdata/sf0.01/documents.parquet", "doc_id", "text"
    )
    assert lm["fingerprint"] == live, (
        "artifacts/lm.json was trained on a DIFFERENT corpus than the "
        f"live testdata ({lm['fingerprint']} vs {live}) — regenerate "
        "with tools/train_lm.py"
    )


def test_lm_bigram_word_order_sensitivity(spark):
    """The bigram tier's reason to exist: the SAME bag of tokens in
    fluent order (a greedy chain of the artifact's highest-probability
    bigrams) must score strictly lower cross-entropy than sorted
    (shuffled) order — while the unigram tier scores both identically
    (bag-of-words is order-blind). Also: one-token docs take the
    unigram path; empty docs emit no row."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        frozen_lm,
        lm_cross_entropy,
        lm_cross_entropy_bigram,
    )

    lm = frozen_lm()
    best: dict[str, tuple[str, float]] = {}
    for k, v in lm["bigram_logp"].items():
        s, t = k.split(" ", 1)
        if s not in best or v > best[s][1]:
            best[s] = (t, v)
    toks = [sorted(lm["logp"])[0]]
    for _ in range(11):
        toks.append(best[toks[-1]][0])
    fluent = " ".join(toks)
    scrambled = " ".join(sorted(toks))
    single = toks[0]
    docs = spark.createDataFrame(
        [(1, fluent), (2, scrambled), (3, single), (4, "")],
        ["doc_id", "text"],
    )
    bi = {r.doc_id: r for r in lm_cross_entropy_bigram(docs).collect()}
    un = {r.doc_id: r for r in lm_cross_entropy(docs).collect()}
    assert set(bi) == set(un) == {1, 2, 3}
    assert un[1].xent == un[2].xent  # unigram: order-blind
    assert bi[1].xent < bi[2].xent  # bigram: fluent order wins
    assert bi[1].n_tokens == 12 and bi[2].n_tokens == 12
    # single token: no bigram context -> exactly the unigram score
    assert bi[3].xent == un[3].xent


def test_frozen_lm_bigram_tier_integrity():
    """Bigram-tier shape/consistency checks on the committed artifact:
    every stored pair's context is in the context table, pair log-probs
    beat that context's unseen mass (add-one monotonicity), and all
    mass terms are finite negatives."""
    import math

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        frozen_lm,
    )

    lm = frozen_lm()
    assert 0 < len(lm["bigram_logp"]) <= lm["max_bigrams"]
    assert all(
        math.isfinite(v) and v < 0 for v in lm["bigram_logp"].values()
    )
    assert all(
        math.isfinite(v) and v < 0 for v in lm["ctx_unseen_logp"].values()
    )
    for k, v in lm["bigram_logp"].items():
        s, _t = k.split(" ", 1)
        assert s in lm["ctx_unseen_logp"], k
        # c >= 1 for stored pairs -> log((c+1)/d) > log(1/d)
        assert v > lm["ctx_unseen_logp"][s], k


def test_frozen_classifier_artifact_integrity():
    """artifacts/quality_clf.json (tools/train_classifier.py) must be
    finite, non-degenerate (the all-one-label corpus freezes all-zero
    weights — MLlib skips training entirely; that artifact scores
    nothing), and fingerprint-locked to the live training slice —
    the frozen-LM drift guard applied to the classifier seam."""
    import math

    from retrieval_augmented_generation_rag_data_pipeline_spark.functions.artifacts import (
        corpus_fingerprint,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        frozen_classifier,
    )

    clf = frozen_classifier()
    assert 0 < len(clf["weights"]) <= clf["max_vocab"]
    assert all(math.isfinite(w) for w in clf["weights"].values())
    assert math.isfinite(clf["intercept"])
    # a degenerate fit (all labels equal) produces all-zero weights
    assert any(w != 0.0 for w in clf["weights"].values())
    live = corpus_fingerprint(
        "/root/testdata/sf0.01/documents.parquet", "doc_id", "text"
    )
    assert clf["fingerprint"] == live, (
        "artifacts/quality_clf.json was trained on a DIFFERENT corpus "
        f"than the live testdata ({clf['fingerprint']} vs {live}) — "
        "regenerate with tools/train_classifier.py"
    )


def test_quality_classifier_scores_every_doc(spark):
    """quality_classifier scores EVERY input doc (unlike the LM
    family's explode-drop): a zero-token doc gets the bare intercept,
    a known-token doc gets intercept + round(sum counts*w, 6), and
    pred is exactly logit >= 0."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        frozen_classifier,
        quality_classifier,
    )

    clf = frozen_classifier()
    term, w = next(iter(sorted(clf["weights"].items())))
    b = float(clf["intercept"])
    docs = spark.createDataFrame(
        [
            (1, ""),                      # zero tokens
            (2, "   "),                   # whitespace only -> zero tokens
            (3, f"{term} {term} zzzz-oov"),  # 2 in-vocab + 1 OOV token
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in quality_classifier(docs, clf).collect()}
    assert len(got) == 3
    assert got[1].n_tokens == 0 and got[1].logit == b
    assert got[2].n_tokens == 0 and got[2].logit == b
    assert got[3].n_tokens == 3
    assert got[3].logit == b + round(2 * w, 6)
    for r in got.values():
        assert r.pred == (r.logit >= 0.0)


def test_quality_classifier_agrees_with_teacher(spark):
    """The frozen student must still separate its teacher's labels on
    the training corpus (the artifact records the train accuracy; this
    re-derives agreement through the ENGINE's scoring path, catching a
    weight/intercept transcription bug between MLlib and the frozen
    artifact)."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        quality_classifier,
        quality_score,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    qs = quality_score(docs).select("doc_id", "quality")
    med = qs.agg(F.expr("percentile(quality, 0.5)")).collect()[0][0]
    joined = quality_classifier(docs).join(qs, "doc_id")
    n = joined.count()
    agree = joined.filter(
        F.col("pred") == (F.col("quality") >= float(med))
    ).count()
    assert agree / n >= 0.95, f"student/teacher agreement {agree}/{n}"


def test_lm_quality_buckets_degenerate_groups(spark):
    """CCNet bucketing edge cases: a single-doc language has t1 = t2 =
    its own xent, so it must land in 'head' (<=, not <); a two-doc
    language splits head/middle (interpolated terciles sit between the
    two values, the higher doc is <= t2); empty/whitespace docs emit no
    row (unscoreable — the lm_cross_entropy contract)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        lm_quality_buckets,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "solo"),
            (2, "the the the the", "duo"),
            (3, "zzz qqq vvv www", "duo"),
            (4, "   ", "empty"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r for r in lm_quality_buckets(docs).collect()}
    assert set(got) == {1, 2, 3}  # whitespace doc unscoreable
    assert got[1].bucket == "head"  # single-doc group: xent == t1
    duo = sorted([got[2], got[3]], key=lambda r: r.xent)
    assert duo[0].bucket == "head" and duo[1].bucket in ("middle", "tail")


# ---------------------------------------------------------------------------
# C4 line-level cleaning (round-14: Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------


def test_c4_line_filter_rules_and_audit_partition(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        c4_line_filter,
    )

    doc = "\n".join(
        [
            "this line has enough words and ends well.",   # kept
            "no terminal punctuation here at all",         # drop: punct
            "too short.",                                  # drop: short
            "this line mentions javascript libraries too.",  # drop: marker
            "  another good line with plenty of words.  ",  # kept (trimmed)
            "does a question mark count as terminal?",     # kept
        ]
    )
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = c4_line_filter(df, min_kept_lines=3).collect()[0]
    assert r.n_lines == 6
    assert r.n_kept == 3
    assert r.n_drop_punct == 1
    assert r.n_drop_short == 1
    assert r.n_drop_marker == 1
    # every line attributed to exactly one bucket
    assert r.n_kept + r.n_drop_punct + r.n_drop_short + r.n_drop_marker == r.n_lines
    assert not r.has_lorem_ipsum and not r.has_brace
    assert r.keep
    assert r.text_clean.split("\n") == [
        "this line has enough words and ends well.",
        "another good line with plenty of words.",
        "does a question mark count as terminal?",
    ]


def test_c4_line_filter_page_level_flags(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        c4_line_filter,
    )

    good = "a perfectly fine sentence with enough words here."
    rows = [
        (1, "\n".join([good] * 3)),                      # keep
        (2, "\n".join([good] * 3) + "\nLorem Ipsum dolor sit."),  # lorem page
        (3, "\n".join([good] * 3) + "\nvar x = { a: 1 };"),       # brace page
        (4, "\n".join([good] * 2)),                      # < min_kept_lines
        (5, ""),                                         # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_line_filter(df).collect()}
    assert got[1].keep
    assert got[2].has_lorem_ipsum and not got[2].keep
    assert got[3].has_brace and not got[3].keep
    assert not got[4].keep and got[4].n_kept == 2
    assert not got[5].keep and got[5].n_lines == 1 and got[5].text_clean == ""


def test_c4_line_filter_fixpoint(spark):
    """Running the filter on its own cleaned output drops nothing —
    every surviving line already passes every line rule."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        c4_line_filter,
    )

    rows = [
        (i, "\n".join(
            [
                f"line number {i} zero has exactly seven words.",
                "short one.",
                "unterminated line with many words but no punctuation",
                f"closing line {i} also carries plenty of words here.",
            ]
        ))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = c4_line_filter(df, min_kept_lines=1)
    again = c4_line_filter(
        once.select("doc_id", F.col("text_clean").alias("text")),
        min_kept_lines=1,
    )
    for r in again.collect():
        assert r.n_drop_punct == r.n_drop_short == r.n_drop_marker == 0
        assert r.n_kept == r.n_lines
    # and the text is unchanged by the second pass
    a = {r.doc_id: r.text_clean for r in once.collect()}
    b = {r.doc_id: r.text_clean for r in again.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# CCNet threshold modes (round-14: scale-safe percentiles)
# ---------------------------------------------------------------------------


def _bucket_docs(spark):
    rows = []
    # two languages with distinct vocab-quality spreads; per-doc-distinct
    # noise counts so xent values are distinct (a tied mass straddling a
    # tercile would legitimately flip as a block between exact and
    # approx thresholds, which is boundary behavior, not disagreement)
    for i in range(30):
        noise = " ".join(["zzqx"] * i)
        rows.append((i, f"the a of and to in is it {noise}", "en"))
    for i in range(30, 48):
        noise = " ".join(["qqq"] * (i - 30))
        rows.append((i, f"le la de et les des {noise}", "fr"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_lm_quality_buckets_approx_mode_agrees(spark):
    """approx_percentile thresholds land within a hair of exact ones on
    gate-scale data — bucket labels agree for the overwhelming majority
    (boundary docs may legitimately flip)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        lm_quality_buckets,
    )

    docs = _bucket_docs(spark)
    exact = {
        r.doc_id: r.bucket
        for r in lm_quality_buckets(docs, percentile_mode="exact").collect()
    }
    approx = {
        r.doc_id: r.bucket
        for r in lm_quality_buckets(docs, percentile_mode="approx").collect()
    }
    assert set(exact) == set(approx)
    agree = sum(exact[k] == approx[k] for k in exact)
    assert agree >= 0.9 * len(exact)
    # every language still produces all three buckets in both modes
    assert set(exact.values()) == {"head", "middle", "tail"}


def test_lm_quality_buckets_frozen_thresholds_replay_exact(spark):
    """The frozen-thresholds seam (CCNet's compute-once-per-snapshot
    rule): feeding back the exact-mode thresholds reproduces the
    exact-mode output bit-for-bit, with NO threshold aggregate in the
    plan — the 100-TB shape."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        lm_cross_entropy,
        lm_quality_buckets,
    )

    docs = _bucket_docs(spark)
    exact = lm_quality_buckets(docs, percentile_mode="exact")
    # recover the thresholds the exact mode used
    scored = lm_cross_entropy(docs).join(
        docs.select("doc_id", F.col("lang").alias("_g")), "doc_id"
    )
    th = {
        r._g: (r._t1, r._t2)
        for r in scored.groupBy("_g")
        .agg(
            F.round(F.expr(f"percentile(xent, {1/3!r})"), 6).alias("_t1"),
            F.round(F.expr(f"percentile(xent, {2/3!r})"), 6).alias("_t2"),
        )
        .collect()
    }
    frozen = lm_quality_buckets(docs, thresholds=th)
    a = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, frozen.collect()))
    assert a == b
    # the frozen plan contains no percentile aggregate at all
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = frozen._jdf.queryExecution().explainString(mode)
    assert "percentile" not in plan.lower()


def test_lm_quality_buckets_rejects_bad_mode(spark):
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        lm_quality_buckets,
    )

    with pytest.raises(ValueError, match="percentile_mode"):
        lm_quality_buckets(_bucket_docs(spark), percentile_mode="median")


def test_empty_and_blank_docs_survive_quality_and_langid(spark):
    """ANSI-mode regression: empty/whitespace-only docs used to kill
    quality_score / quality_filter / lang_id (and through them
    prepare_corpus) with DIVIDE_BY_ZERO; guarded, they score 0-ratios
    deterministically on both engines."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        lang_id,
        quality_filter,
        quality_score,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "the cat sat on the mat of the hat")],
        "doc_id long, text string",
    )
    qs = {r.doc_id: r for r in quality_score(df).collect()}
    assert qs[0].n_tokens == 0 and qs[0].stopword_ratio == 0.0
    assert qs[1].n_tokens == 0 and qs[1].mean_word_len == 0.0
    assert qs[2].n_tokens == 9
    qf = {r.doc_id: r for r in quality_filter(df).collect()}
    assert not qf[0].keep and qf[0].is_too_short  # blank docs drop cleanly
    li = {r.doc_id: r for r in lang_id(df).collect()}
    assert li[0].lang_score == 0.0
    assert li[0].pred_lang == sorted(
        __import__(
            "retrieval_augmented_generation_rag_data_pipeline_spark.operators.text", fromlist=["LANG_PROFILES"]
        ).LANG_PROFILES
    )[0]  # all-zero scores -> lexicographically first code
    assert li[2].pred_lang == "en"


def test_c4_line_filter_handles_crlf(spark):
    """CRLF documents: lines split on \\r?\\n so the terminal-punct
    rule sees the real line (Java's $ matches before a trailing \\r,
    RE2's does not — the \\r must never reach the rule), and
    text_clean carries no \\r bytes."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import c4_line_filter

    body = (
        "this line ends with proper punctuation right here.\r\n"
        "so does this one with enough words to keep around.\r\n"
        "and a third full sentence to clear the minimum too.\r\n"
        "short.\r\n"
    )
    df = spark.createDataFrame([(1, body)], "doc_id long, text string")
    r = c4_line_filter(df).collect()[0]
    assert r.n_kept == 3 and r.n_drop_short == 1
    assert "\r" not in r.text_clean
    assert r.keep


def test_lm_quality_buckets_null_group_rows_survive(spark):
    """A NULL group (failed language-ID) must form its own bucket
    group, not vanish through a null-rejecting equi-join."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import lm_quality_buckets

    docs = spark.createDataFrame(
        [
            (i, "the cat sat on the mat " * (1 + i % 3), None if i % 2 else "en")
            for i in range(8)
        ],
        "doc_id long, text string, lang string",
    )
    out = lm_quality_buckets(docs)
    assert out.count() == 8  # one row per scoreable doc, NULLs included
    got = {r.doc_id: r.lang for r in out.collect()}
    assert got[1] is None and got[0] == "en"


def test_vocab_entropy_null_text_row_is_consistent(spark):
    """NULL text -> NULL entropy next to NULL counts (0.0 stays the
    EMPTY-doc value; an unmeasurable doc must not read as maximally
    repetitive)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import vocab_entropy

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a b a b")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in vocab_entropy(df).collect()}
    assert rows[0].entropy is None and rows[0].n_tokens is None
    assert rows[1].entropy == 0.0 and rows[1].n_tokens == 0
    assert rows[2].entropy is not None and rows[2].entropy > 0


def test_langid_artifact_integrity():
    """artifacts/langid.json: finite negative log-probs, per-language
    mass <= 1, floors below every seen weight of that language, and the
    training-slice fingerprint matches live testdata (the
    frozen-artifact guard of functions/artifacts.py)."""
    import math

    from retrieval_augmented_generation_rag_data_pipeline_spark.functions.artifacts import (
        corpus_fingerprint,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        frozen_langid,
    )

    m = frozen_langid()
    langs = m["langs"]
    assert langs == sorted(langs) and len(langs) >= 2
    assert m["vocab_size"] == len(m["weights"]) > 0
    for l in langs:
        ws = [m["weights"][t][l] for t in m["weights"]]
        assert all(math.isfinite(w) and w < 0 for w in ws)
        # floor is the smoothed UNSEEN prob — no seen-count weight
        # may fall below it (counts only add mass)
        assert m["floors"][l] <= min(ws) + 1e-9
        mass = sum(math.exp(w) for w in ws) + math.exp(m["floors"][l])
        assert mass <= 1.0 + 1e-6
    assert abs(sum(math.exp(m["priors"][l]) for l in langs) - 1.0) < 1e-4
    live = corpus_fingerprint(
        "/root/testdata/sf0.01/documents.parquet", "doc_id", "text"
    )
    assert m["fingerprint"] == live, (
        "artifacts/langid.json was trained on a DIFFERENT corpus than "
        f"the live testdata ({m['fingerprint']} vs {live}) — regenerate "
        "with tools/train_langid.py"
    )


def test_lang_id_trained_agreement_and_upgrade(spark):
    """The round-14 verdict's Done criterion: on the fixture corpus the
    trained model agrees with the heuristic teacher wherever the
    teacher has actual signal (stopword hits > 0), and UPGRADES the
    teacher's zero-signal docs — whose heuristic label is pure
    lexicographic tie-break ('de') — to the corpus language."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        lang_id,
        lang_id_trained,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    heur = {
        r.doc_id: (r.pred_lang, r.lang_score) for r in lang_id(docs).collect()
    }
    trained = {
        r.doc_id: r.pred_lang for r in lang_id_trained(docs).collect()
    }
    assert set(trained) == set(heur)
    signal = [d for d in heur if heur[d][1] > 0]
    zero = [d for d in heur if heur[d][1] == 0]
    assert len(signal) > 0 and len(zero) > 0  # the fixture has both
    agree = sum(trained[d] == heur[d][0] for d in signal) / len(signal)
    assert agree == 1.0  # full agreement where the teacher is confident
    # the upgrade: zero-signal word-soup docs are English, not 'de'
    assert all(trained[d] == "en" for d in zero)


def test_lang_id_trained_beats_heuristic_off_profile(spark):
    """Natural-language sentences containing NONE of the profiled
    function words: the heuristic scores every language 0 and its
    tie-break answers 'de'; the char-ngram model identifies them."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        lang_id,
        lang_id_trained,
    )

    df = spark.createDataFrame(
        [
            (1, "voiture rouge roule rapidement autoroute"),
            (2, "gato negro duerme tranquilamente sofá"),
            (3, "quick brown dog runs fast today"),
        ],
        "doc_id long, text string",
    )
    heur = {r.doc_id: (r.pred_lang, r.lang_score) for r in lang_id(df).collect()}
    assert all(s == 0.0 for _, s in heur.values())  # heuristic is blind
    trained = {r.doc_id: r.pred_lang for r in lang_id_trained(df).collect()}
    assert trained == {1: "fr", 2: "es", 3: "en"}


# ---------------------------------------------------------------------
# Fuzzy decontamination (round-14 verdict item 6)
# ---------------------------------------------------------------------

# A benchmark item and its paraphrase: every 8th word substituted, so
# the longest run of shared tokens is 7 — the two PROVABLY share zero
# 8-grams (asserted below), yet ~45% of their 3-word shingles survive
# and the frozen MinHash-LSH signature collides in >= 1 band (pinned:
# the sketch parameters are frozen constants, so this is deterministic).
_BENCH_ITEM = (
    "the committee reviewed the annual budget report and approved new "
    "funding for the public library system while several members raised "
    "concerns about rising maintenance costs across the district schools "
    "and proposed an independent audit of every capital project begun "
    "during the previous fiscal year to restore public confidence in the "
    "planning process"
)
_PARAPHRASE = (
    "altered committee reviewed the annual budget report and changed new "
    "funding for the public library system revised several members raised "
    "concerns about rising maintenance updated across the district schools "
    "and proposed an amended audit of every capital project begun during "
    "modified previous fiscal year to restore public confidence adjusted "
    "the planning process"
)


def test_decontaminate_fuzzy_catches_paraphrase_exact_misses(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        decontaminate,
        decontaminate_fuzzy,
    )

    # the premise, proven: zero shared 8-grams
    def grams(s, n=8):
        w = s.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    assert not (grams(_BENCH_ITEM) & grams(_PARAPHRASE))

    docs = spark.createDataFrame(
        [
            (1, _PARAPHRASE),  # leaked eval item, paraphrased
            (2, "completely unrelated text about gardening and soil quality"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(_BENCH_ITEM,)], "text string")

    exact_kept = {r.doc_id for r in decontaminate(docs, bench, n=8).collect()}
    assert exact_kept == {1, 2}  # exact 8-gram overlap MISSES the leak

    fuzzy_kept = {r.doc_id for r in decontaminate_fuzzy(docs, bench).collect()}
    assert fuzzy_kept == {2}  # fuzzy catches it; unrelated doc survives


def test_decontaminate_fuzzy_short_docs_pass_through(spark):
    """Docs/bench items shorter than the shingle width emit no band
    keys (the minhash_band_keys empty-signature rule) — they can never
    collide, so they pass through unharmed rather than all colliding
    on an empty signature."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import decontaminate_fuzzy

    docs = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, _BENCH_ITEM)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([("xy",), (_BENCH_ITEM,)], "text string")
    kept = {r.doc_id for r in decontaminate_fuzzy(docs, bench).collect()}
    assert kept == {1, 2}  # verbatim bench item dropped; shorts kept


# ---------------------------------------------------------------------
# Frozen subword tokenizer (round-14 verdict "missing" item 4)
# ---------------------------------------------------------------------


def test_subword_artifact_integrity():
    from retrieval_augmented_generation_rag_data_pipeline_spark.functions.artifacts import (
        corpus_fingerprint,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import frozen_subword

    art = frozen_subword()
    pieces = art["pieces"]
    assert len(pieces) == len(set(pieces)) > 0
    assert art["max_piece_len"] == max(len(p) for p in pieces)
    # every character of every multi-char piece is itself a piece —
    # the UNK-free decomposition guarantee for in-vocab text
    chars = {p for p in pieces if len(p) == 1}
    assert all(set(p) <= chars for p in pieces)
    live = corpus_fingerprint(
        "/root/testdata/sf0.01/documents.parquet", "doc_id", "text"
    )
    assert art["fingerprint"] == live, (
        "artifacts/subword.json trained on a DIFFERENT corpus than the "
        "live testdata — regenerate with tools/train_subword.py"
    )


def test_token_count_subword_greedy_semantics(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import token_count_subword

    toy = {"pieces": ["a", "b", "c", "ab", "abc", "x"]}
    df = spark.createDataFrame(
        [
            (1, "abcab ab"),  # abcab -> abc+ab (greedy longest), ab -> ab
            (2, "azb"),       # a + z(UNK single char) + b
            (3, ""),          # zero tokens -> 0/0, row kept
            (4, "xxxx abc"),  # x,x,x,x + abc
            (5, "ZZZ"),       # tokens() lowercases -> z,z,z all UNK
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_subword_tokens)
        for r in token_count_subword(df, toy).collect()
    }
    assert got == {1: (2, 3), 2: (1, 3), 3: (0, 0), 4: (2, 5), 5: (1, 3)}


def test_token_count_subword_calibration_on_corpus(spark):
    """The artifact's merge cap leaves rare words multi-piece: subword
    counts must be >= whitespace counts everywhere and strictly larger
    in aggregate — the whitespace-undercount the operator exists to
    correct."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import token_count_subword

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    rows = token_count_subword(docs).collect()
    assert len(rows) == 500
    assert all(r.n_subword_tokens >= r.n_words for r in rows)
    assert sum(r.n_subword_tokens for r in rows) > sum(r.n_words for r in rows)


def test_token_count_subword_overlong_word_is_one_unk(spark):
    """The WordPiece max_input_chars_per_word rule: a pathological
    multi-kilochar 'word' counts as ONE UNK piece instead of folding
    over its whole length (per-row memory/CPU DoS guard)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        MAX_WORD_CHARS,
        token_count_subword,
    )

    toy = {"pieces": ["a", "b"]}
    long_word = "ab" * 5000  # 10k chars
    edge = "a" * MAX_WORD_CHARS  # exactly at the cap: still segmented
    df = spark.createDataFrame(
        [(1, f"{long_word} ab"), (2, edge)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_subword_tokens)
        for r in token_count_subword(df, toy).collect()
    }
    assert got[1] == (2, 1 + 2)  # UNK + ('a','b')
    assert got[2] == (1, MAX_WORD_CHARS)
