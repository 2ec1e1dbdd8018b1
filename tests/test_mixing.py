"""Data-mixing / text-hygiene operators: deterministic sampling,
repetition metrics, PII scrubbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
    sample_stratified,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
    pii_scrub,
    repetition_metrics,
)


def test_sample_stratified_rates_and_missing_strata_dropped(spark):
    rows = [(i, "a" if i % 2 == 0 else ("b" if i % 4 == 1 else "c")) for i in range(4000)]
    df = spark.createDataFrame(rows, ["k", "s"])
    out = sample_stratified(df, "s", "k", {"a": 1.0, "b": 0.5}).groupBy("s").count()
    got = {r.s: r["count"] for r in out.collect()}
    assert got["a"] == 2000  # rate 1.0 keeps everything
    assert 400 < got["b"] < 600  # ~0.5 of 1000
    assert "c" not in got  # absent stratum -> dropped
    # the keep decision hashes (seed, stratum, id): the same rows under
    # any partitioning, different rows under another seed
    kept = lambda d, seed: sorted(  # noqa: E731
        r.k for r in sample_stratified(d, "s", "k", {"b": 0.5}, seed=seed).collect()
    )
    assert kept(df, 1) == kept(df.repartition(13), 1) != kept(df, 2)


def test_repetition_metrics_flags_repeated_text(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "all these words appear exactly once here"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert out[1].dup_unigram_frac > 0.8 and out[1].dup_bigram_frac > 0.7
    assert out[2].dup_unigram_frac == 0.0 and out[2].dup_trigram_frac == 0.0
    assert out[3].dup_unigram_frac == 0.0  # empty doc -> zeros, no nulls


def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.org or call +1 (555) 123-4567"),
            (2, "server 192.168.001.042 is fine; no pii otherwise"),
            (3, "clean text"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert "<EMAIL>" in out[1].clean_text and "<PHONE>" in out[1].clean_text
    assert "jo.doe" not in out[1].clean_text and "555" not in out[1].clean_text
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert out[2].clean_text == "server <IP> is fine; no pii otherwise"
    assert out[2].n_ips == 1
    assert out[3].clean_text == "clean text"
    assert out[3].n_emails == out[3].n_ips == out[3].n_phones == 0


def test_pii_scrub_counts_match_replacements_on_overlaps(spark):
    # an IP-shaped substring inside an email is consumed by <EMAIL> and
    # must NOT also count as an IP; same for a phone-shaped tail
    df = spark.createDataFrame(
        [(1, "ping user@1.2.3.4.example.com and 10.0.0.7 today")],
        ["doc_id", "text"],
    )
    row = pii_scrub(df).collect()[0]
    assert row.clean_text == "ping <EMAIL> and <IP> today"
    assert row.n_emails == 1
    assert row.n_ips == 1  # only the standalone IP, not the email's host
    assert row.n_phones == 0


def test_sample_stratified_non_exact_rate_quantizes_consistently(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        quantize,
    )

    assert quantize(0.29) == 290000  # rounds, never truncates
    rows = [(i, "a") for i in range(3000)]
    df = spark.createDataFrame(rows, ["k", "s"])
    via_dict = sorted(r.k for r in sample_stratified(df, "s", "k", {"a": 0.29}).collect())
    via_scalar = sorted(r.k for r in sample_stratified(df, "s", "k", 0.29).collect())
    assert via_dict == via_scalar  # both paths use the same quantized threshold


def test_decontaminate_drops_benchmark_overlaps(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        decontaminate,
    )

    bench_text = "the quick brown fox jumps over the lazy sleeping dog tonight"
    rows = [
        # contains the benchmark's 8-gram verbatim inside other text
        (1, "intro words then the quick brown fox jumps over the lazy sleeping end"),
        (2, "a completely unrelated document with plenty of its own words here"),
        (3, "short doc"),  # < 8 words: no 8-grams, can never be contaminated
        (4, bench_text),  # the benchmark doc itself
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame([(bench_text,)], ["text"])
    kept = sorted(r.doc_id for r in decontaminate(docs, bench, n=8).collect())
    assert kept == [2, 3]


def test_normalize_text_collapses_case_and_whitespace(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import (
        dedup_exact,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        normalize_text,
    )

    df = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "  hello\tworld\n"),
            (3, "different text"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.norm_text for r in normalize_text(df).collect()}
    assert out[1] == out[2] == "hello world"
    assert out[3] == "different text"
    # normalized docs collapse under exact dedup
    groups = {
        r.doc_id: r.canonical_id
        for r in dedup_exact(normalize_text(df), text_col="norm_text").collect()
    }
    assert groups == {1: 1, 2: 1, 3: 3}


def test_normalize_text_vertical_tab_matches_oracle(spark):
    """Java's \\s includes \\x0B but RE2's doesn't, so the operator uses
    an explicit whitespace class — verify a vertical-tab doc normalizes
    identically in Spark and DuckDB (divergence here feeds different
    digests into dedup_exact)."""
    import duckdb

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        normalize_text,
    )

    raw = "A\x0bB\tC  \x0b\x0bD"
    df = spark.createDataFrame([(1, raw)], ["doc_id", "text"])
    got = normalize_text(df).collect()[0].norm_text
    exp = duckdb.execute(
        r"SELECT trim(regexp_replace(lower(?), '[ \t\n\x0B\f\r]+', ' ', 'g'))",
        [raw],
    ).fetchone()[0]
    assert got == exp == "a b c d"


def test_sample_exact_k_deterministic_and_take_ordered(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        sample_exact,
    )

    df = spark.range(5000).withColumnRenamed("id", "k")
    a = sorted(r.k for r in sample_exact(df, 25, "k", seed=3).collect())
    b = sorted(
        r.k for r in sample_exact(df.repartition(17), 25, "k", seed=3).collect()
    )
    assert len(a) == 25
    assert a == b  # partition-independent
    c = sorted(r.k for r in sample_exact(df, 25, "k", seed=4).collect())
    assert a != c  # seed changes which k rows survive

    # the whole point: TakeOrderedAndProject, never a global window
    plan = sample_exact(df, 25, "k")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan

    # with_rank ranks only the <= k survivors (post-limit window is fine)
    ranked = sample_exact(df, 10, "k", seed=3, with_rank=True).collect()
    assert sorted(r.sample_rank for r in ranked) == list(range(1, 11))
    assert "_sample_h" not in sample_exact(df, 5, "k").columns


def test_sample_exact_per_group_counts_and_determinism(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import sample_exact_per_group

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(90)], ["doc_id", "grp"]
    )
    out = sample_exact_per_group(df, k=4, group_cols=["grp"], id_col="doc_id", seed=1)
    rows = out.collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r.doc_id)
    assert {g: len(v) for g, v in by_grp.items()} == {"g0": 4, "g1": 4, "g2": 4}
    # deterministic across re-evaluation
    again = sample_exact_per_group(df, k=4, group_cols=["grp"], id_col="doc_id", seed=1)
    assert sorted((r.grp, r.doc_id) for r in again.collect()) == sorted(
        (r.grp, r.doc_id) for r in rows
    )
    # small group (< k) keeps everything
    tiny = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["doc_id", "grp"])
    assert sample_exact_per_group(tiny, k=5, group_cols=["grp"]).count() == 3


def test_sample_weighted_tracks_weights(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import sample_weighted

    # one row with overwhelming weight is (essentially) always sampled
    rows = [(i, 1.0) for i in range(200)] + [(999, 1e9)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = {r.doc_id for r in sample_weighted(df, k=10, weight_col="w").collect()}
    assert len(got) == 10
    assert 999 in got
    # null / non-positive weights are dropped, never sampled
    bad = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, float("nan"))],
        ["doc_id", "w"],
    )
    assert {r.doc_id for r in sample_weighted(bad, k=10, weight_col="w").collect()} == {1}
    # reproducible
    a = sorted(r.doc_id for r in sample_weighted(df, k=10, weight_col="w", seed=5).collect())
    b = sorted(r.doc_id for r in sample_weighted(df, k=10, weight_col="w", seed=5).collect())
    assert a == b


def test_select_token_budget_greedy_prefix(spark):
    """Token-budget selection: deterministic rank by (score desc, id),
    inclusive running totals, greedy prefix (an oversize doc at the
    boundary ends the kept set rather than being skipped), budget 0
    keeps nothing, and ascending=True flips the ranking for
    lower-is-better scores."""
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        select_token_budget,
    )

    rows = [(1, 0.9, 40), (2, 0.8, 30), (3, 0.7, 50), (4, 0.95, 20), (5, 0.5, 10)]
    docs = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    out = {r.doc_id: r for r in select_token_budget(docs, 95, "score").collect()}
    assert len(out) == 5  # one row per input doc
    # rank order: 4 (0.95, cum 20), 1 (0.9, 60), 2 (0.8, 90), 3, 5
    assert [out[i].cum_tokens for i in (4, 1, 2, 3, 5)] == [20, 60, 90, 140, 150]
    assert {i for i in out if out[i].keep} == {4, 1, 2}
    # doc 3 (50 tokens) overflows at cum 140 and ENDS the prefix: doc 5
    # (10 tokens, cum 150) stays dropped even though 95-90=5 < 10 anyway;
    # with budget 100 the same boundary doc still ends the prefix
    out100 = {r.doc_id: r.keep for r in select_token_budget(docs, 100, "score").collect()}
    assert {i for i, k in out100.items() if k} == {4, 1, 2}
    # budget 0 keeps nothing; negative budget raises
    out0 = select_token_budget(docs, 0, "score")
    assert out0.filter("keep").count() == 0
    with pytest.raises(ValueError, match="budget_tokens"):
        select_token_budget(docs, -1, "score")
    # ascending: lowest scores first (perplexity-style)
    asc = {r.doc_id: r.cum_tokens for r in
           select_token_budget(docs, 1000, "score", ascending=True).collect()}
    assert [asc[i] for i in (5, 3, 2, 1, 4)] == [10, 60, 90, 130, 150]


def test_select_token_budget_grouped_semantics(spark):
    """Per-group budgets: independent greedy prefixes per group,
    unlisted groups get default_budget, negative budgets raise, and
    one row comes back per input doc."""
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        select_token_budget_grouped,
    )

    rows = [
        (1, "a", 0.9, 40), (2, "a", 0.8, 30), (3, "a", 0.7, 50),
        (4, "b", 0.95, 20), (5, "b", 0.5, 10), (6, "c", 0.99, 5),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, grp string, score double, n_tokens long"
    )
    out = {
        r.doc_id: r
        for r in select_token_budget_grouped(
            docs, {"a": 70, "b": 20}, group_col="grp", score_col="score"
        ).collect()
    }
    assert len(out) == 6
    # group a ranks 1 (cum 40), 2 (70), 3 (120): budget 70 keeps {1, 2}
    assert [out[i].cum_tokens for i in (1, 2, 3)] == [40, 70, 120]
    # group b ranks 4 (20), 5 (30): budget 20 keeps {4}
    assert [out[i].cum_tokens for i in (4, 5)] == [20, 30]
    # group c unlisted -> default budget 0 -> nothing kept
    assert {i for i in out if out[i].keep} == {1, 2, 4}
    # positive default gives unlisted groups a floor
    out_floor = {
        r.doc_id: r.keep
        for r in select_token_budget_grouped(
            docs, {"a": 70, "b": 20}, "grp", "score", default_budget=5
        ).collect()
    }
    assert out_floor[6] is True
    with pytest.raises(ValueError, match="budgets"):
        select_token_budget_grouped(docs, {"a": -1}, "grp", "score")
    with pytest.raises(ValueError, match="default_budget"):
        select_token_budget_grouped(docs, {}, "grp", "score", default_budget=-2)


def test_grouped_budgets_reproduce_global_cut_when_weights_match(spark):
    """Round-12 verdict item 4's consistency law: if each group's
    budget equals the tokens the GLOBAL selection allotted that group,
    the grouped kept set is identical to the global one — the grouped
    operator re-apportions budget but never re-orders within a group.
    Checked on real data (sf0.001 documents grouped by lang, n_chars
    as the token weight, doc_id-derived score)."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        select_token_budget,
        select_token_budget_grouped,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") % 97).cast("double").alias("score"),
            F.col("n_chars").alias("n_tokens"),
        )
    )
    glob = select_token_budget(
        docs, 5000, score_col="score", ascending=True
    )
    kept_global = {r.doc_id for r in glob.filter("keep").collect()}
    per_group_tokens = {
        r.lang: r.tok
        for r in glob.filter("keep")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    }
    grouped = select_token_budget_grouped(
        docs,
        per_group_tokens,
        group_col="lang",
        score_col="score",
        ascending=True,
    )
    kept_grouped = {r.doc_id for r in grouped.filter("keep").collect()}
    assert kept_grouped == kept_global
    # and the per-group budgets sum back to the global kept total
    assert sum(per_group_tokens.values()) == sum(
        r.n_tokens for r in glob.filter("keep").collect()
    )


def test_select_token_budget_grouped_null_group(spark):
    """NULL group values form their own group (null-safe offsets join,
    groupBy treats NULL as a value) and always get the default budget
    (Spark map keys cannot be NULL, so they can never be listed)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        select_token_budget_grouped,
    )

    rows = [(1, "a", 0.9, 10), (2, None, 0.8, 10), (3, None, 0.7, 10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, grp string, score double, n_tokens long"
    )
    out = {
        r.doc_id: r
        for r in select_token_budget_grouped(
            docs, {"a": 10}, "grp", "score", default_budget=10
        ).collect()
    }
    assert len(out) == 3
    # NULL group: its own prefix sum (2 ranks 0.8 above 3's 0.7 under
    # descending order -> cum 10 then 20), default budget keeps doc 2
    assert out[2].cum_tokens == 10 and out[2].keep is True
    assert out[3].cum_tokens == 20 and out[3].keep is False
    assert out[1].keep is True


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights (round-14: Lample & Conneau 2019)
# ---------------------------------------------------------------------------


def _skewed(spark):
    rows = (
        [(i, "en", 10) for i in range(80)]
        + [(100 + i, "fr", 20) for i in range(15)]
        + [(200 + i, "de", 30) for i in range(5)]
    )
    return spark.createDataFrame(rows, "doc_id long, lang string, toks int")


def test_mix_temperature_matches_paper_formula(spark):
    """w_i = p_i^a / sum p_j^a at a couple of alpha values, checked
    against an independent numpy computation with the operator's 6dp
    rounding discipline applied."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        mix_temperature,
    )

    counts = {"en": 80, "fr": 15, "de": 5}
    total = sum(counts.values())
    for alpha in (0.3, 0.7):
        got = {
            r.source: (r.n, r.share, r.weight)
            for r in mix_temperature(
                _skewed(spark), source_col="lang", alpha=alpha
            ).collect()
        }
        pw = {g: round((c / total) ** alpha, 6) for g, c in counts.items()}
        tot_pw = round(sum(pw.values()), 6)
        for g, c in counts.items():
            n, share, weight = got[g]
            assert n == c
            assert share == c / total
            assert abs(weight - round(pw[g] / tot_pw, 6)) < 1e-9
        # alpha < 1 flattens: the rare source gains share, the dominant loses
        assert got["de"][2] > counts["de"] / total
        assert got["en"][2] < counts["en"] / total


def test_mix_temperature_alpha_one_is_natural_mix(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        mix_temperature,
    )

    got = {
        r.source: (r.share, r.weight)
        for r in mix_temperature(
            _skewed(spark), source_col="lang", alpha=1.0
        ).collect()
    }
    for share, weight in got.values():
        assert abs(weight - round(share, 6)) <= 2e-6  # rounding slack only
    assert abs(sum(w for _, w in got.values()) - 1.0) < 1e-5


def test_mix_temperature_alpha_zero_is_uniform(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        mix_temperature,
    )

    got = [
        r.weight
        for r in mix_temperature(
            _skewed(spark), source_col="lang", alpha=0.0
        ).collect()
    ]
    assert all(abs(w - 1 / 3) < 1e-5 for w in got)


def test_mix_temperature_weight_col_and_budget_composition(spark):
    """Token-weighted shares, and the weights a token budget is split
    by (the DoReMi-style recipe hop)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        mix_temperature,
    )

    got = {
        r.source: r.n
        for r in mix_temperature(
            _skewed(spark), source_col="lang", alpha=0.5, weight_col="toks"
        ).collect()
    }
    assert got == {"en": 800, "fr": 300, "de": 150}
    weights = {
        r.source: r.weight
        for r in mix_temperature(
            _skewed(spark), source_col="lang", alpha=0.5, weight_col="toks"
        ).collect()
    }
    assert sum(weights.values()) == pytest.approx(1.0)
    # temperature lifted the rare source above its natural token share
    assert weights["de"] > 150 / 1250


def test_group_keyed_split_is_leakage_free_and_stable(spark):
    """split_by_host's contract: keying assign_split by a GROUP column
    gives every member of a group the same split (no train/test
    leakage through within-group duplicates), stays stable when the
    group gains members, and agrees with the doc-id form's thresholds."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import assign_split

    rows = [(i, f"site{i % 37}.example.com") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "host"])
    out = assign_split(df, "host", seed=3).select("doc_id", "host", "split")
    per_host = (
        out.groupBy("host")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r.n_splits == 1 for r in per_host)  # leakage-free
    # adding new members to a group never reassigns the group
    bigger = spark.createDataFrame(
        rows + [(i + 10_000, f"site{i % 37}.example.com") for i in range(200)],
        ["doc_id", "host"],
    )
    a = {r.host: r.split for r in assign_split(df, "host", seed=3)
         .select("host", "split").distinct().collect()}
    b = {r.host: r.split for r in assign_split(bigger, "host", seed=3)
         .select("host", "split").distinct().collect()}
    assert a == b
    # the label is a pure row-local function: no shuffle in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sample_stratified_non_string_strata(spark):
    """Native-typed strata comparison: boolean and numeric stratum
    columns must match their dict keys (a cast-to-string compare sees
    'true' vs str(True)='True' and silently drops everything)."""
    bdf = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(100)], ["k", "flag"]
    )
    got = sample_stratified(bdf, "flag", "k", {True: 1.0}).collect()
    assert len(got) == 50 and all(r.flag for r in got)
    ndf = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(90)], ["k", "grp"]
    )
    assert sample_stratified(ndf, "grp", "k", {0: 1.0, 1: 1.0}).count() == 60


def test_select_token_budget_null_scores_rank_last(spark):
    """NULLS LAST: unscored docs must never consume the budget ahead of
    scored ones (Spark's bare ascending sort is NULLS FIRST)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import select_token_budget

    docs = spark.createDataFrame(
        [(1, 0.9, 10), (2, None, 10), (3, 0.8, 10)],
        "doc_id long, score double, n_tokens long",
    )
    rows = {r.doc_id: r for r in select_token_budget(docs, 20, "score").collect()}
    assert rows[1].keep and rows[3].keep      # the two scored docs fit
    assert not rows[2].keep                   # the unscored doc ranks last
    # ascending (lower-is-better) mode: NULL still last
    rows = {
        r.doc_id: r
        for r in select_token_budget(docs, 20, "score", ascending=True).collect()
    }
    assert rows[3].keep and rows[1].keep and not rows[2].keep


def test_sampling_degenerate_spec_guards(spark):
    """Empty specs raise a named ValueError instead of a bare
    IndexError; negative/zero mixture weights raise instead of
    emitting NaN weights."""
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        assign_split,
        mix_corpora,
        mix_temperature,
    )

    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="assign_split"):
        assign_split(df, "k", splits={})
    with pytest.raises(ValueError, match="mix_corpora"):
        mix_corpora({}, "k")
    neg = spark.createDataFrame(
        [("a", -5.0), ("b", 10.0)], ["lang", "toks"]
    )
    with pytest.raises(ValueError, match="negative"):
        mix_temperature(neg, source_col="lang", weight_col="toks")
    zero = spark.createDataFrame([("a", 0.0)], ["lang", "toks"])
    with pytest.raises(ValueError, match="positive"):
        mix_temperature(zero, source_col="lang", weight_col="toks")


# ---------------------------------------------------------------------
# DSIR importance resampling (round-14 verdict item 4)
# ---------------------------------------------------------------------

import math as _math


def _toy_lms():
    # target favors 'x' 5:1 over raw; 'y' is neutral; OOV neutral
    target = {"logp": {"x": _math.log(0.5), "y": _math.log(0.1)},
              "oov_logp": _math.log(0.01)}
    raw = {"logp": {"x": _math.log(0.1), "y": _math.log(0.1)},
           "oov_logp": _math.log(0.01)}
    return target, raw


def test_dsir_importance_weights_exact(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import (
        dsir_importance_weights,
    )

    target, raw = _toy_lms()
    df = spark.createDataFrame(
        [
            (1, "x x y"),     # 2*ln5 + 0
            (2, "y y"),       # 0
            (3, "zz zz"),     # OOV only -> 0 (oov diff is 0 here)
            (4, ""),          # zero tokens -> empty product -> log 1
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.logw
        for r in dsir_importance_weights(df, target, raw).collect()
    }
    assert got[1] == round(2 * _math.log(5.0), 6)
    assert got[2] == 0.0 and got[3] == 0.0 and got[4] == 0.0


def test_dsir_select_prefers_target_like_docs(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import dsir_select

    target, raw = _toy_lms()
    rows = [(i, "x " * 10) for i in range(50)] + [
        (i, "y " * 10) for i in range(50, 100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = dsir_select(df, 40, target, raw, seed=3)
    ids = {r.doc_id for r in sel.collect()}
    assert len(ids) == 40
    # weight ratio e^(10 ln 5) ~ 10^7: every pick is a target-like doc
    assert all(i < 50 for i in ids)
    # determinism across invocations
    again = {r.doc_id for r in dsir_select(df, 40, target, raw, seed=3).collect()}
    assert again == ids
    # k >= n degrades to "keep everything"
    assert dsir_select(df, 200, target, raw).count() == 100


def test_dsir_diff_table_union_vocab():
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.sampling import dsir_diff_table

    target = {"logp": {"a": -1.0}, "oov_logp": -9.0}
    raw = {"logp": {"b": -2.0}, "oov_logp": -7.0}
    diff, oov = dsir_diff_table(target, raw)
    assert set(diff) == {"a", "b"}
    assert diff["a"] == -1.0 - (-7.0)   # known to target, OOV to raw
    assert diff["b"] == -9.0 - (-2.0)   # OOV to target, known to raw
    assert oov == -9.0 - (-7.0)
