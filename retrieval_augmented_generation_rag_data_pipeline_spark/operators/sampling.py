"""Deterministic sampling operators for data mixing.

Training-data pipelines resample sources into mixtures (per-domain /
per-language rates). Doing that with `rand()` makes every rerun a
different dataset; these operators key the keep/drop decision on a
content hash instead, so a sample is reproducible across runs, engines
(DuckDB-oracle-checkable), cluster sizes, and repartitioning — and a
row's fate never depends on which partition it landed in.

Scale: the predicate is a narrow per-row hash on the scan side —
no shuffle, no RNG state, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_sql
from .joins import sql_string

# hash-bucket resolution: rates are quantized to 1/RESOLUTION steps
RESOLUTION = 1_000_000


def quantize(fraction: float) -> int:
    """Rate -> integer hash-bucket threshold, rounded (not truncated) in
    Python BEFORE any engine sees it. Rates whose product with
    RESOLUTION isn't exactly representable (0.29 -> 289999.9999...)
    would otherwise truncate in Spark (cast long) but round in DuckDB
    (CAST AS BIGINT), disagreeing by one bucket. Quantizing driver-side
    makes both engines compare against the same literal integer."""
    return int(round(float(fraction) * RESOLUTION))


def seed_hash_sql(seed: int, *parts: str) -> str:
    """SQL text of the 60-bit hash of ``seed:part:...`` that every
    sampler keys on; each part is SQL text, cast to STRING."""
    cast = ", ".join(f"CAST({p} AS STRING)" for p in parts)
    return md5_long_sql(f"concat_ws(':', {sql_string(str(seed))}, {cast})")


def _keep_expr(stratum: str, id_col: str, fraction: float, seed: int) -> Column:
    """hash(seed:stratum:id) bucket under the quantized rate; ``stratum``
    is SQL text."""
    bucket = f"{seed_hash_sql(seed, stratum, f'`{id_col}`')} % {RESOLUTION}"
    return F.expr(f"{bucket} < {quantize(fraction)}")


def assign_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets a
    `split` label decided by hash(seed:id) against cumulative fraction
    thresholds — the holdout operator every training-data pipeline
    needs. Unlike `randomSplit`, assignment is a pure function of the
    row id: stable across reruns, engines, repartitioning, and corpus
    growth (adding documents never reassigns existing ones).

    ``splits`` maps label -> fraction (must sum to <= 1; remainder, if
    any, falls into the LAST label). Labels are laid out on the hash
    line in the given dict order. Narrow per-row projection, no shuffle.
    """
    if splits is None:
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not splits:
        raise ValueError(
            "assign_split: splits must name at least one label "
            "(pass None for the 0.9/0.05/0.05 default)"
        )
    bucket = f"{seed_hash_sql(seed, f'`{id_col}`')} % {RESOLUTION}"
    labels = list(splits)
    expr = sql_string(labels[-1])
    cum = 0
    bounds: list[tuple[str, int]] = []
    for name, fr in splits.items():
        cum += quantize(fr)
        bounds.append((name, cum))
    for name, upper in reversed(bounds[:-1]):
        expr = (
            f"CASE WHEN {bucket} < {upper} THEN {sql_string(name)} "
            f"ELSE {expr} END"
        )
    return df.withColumn("split", F.expr(expr))


def mix_corpora(
    corpora: dict[str, tuple[DataFrame, float]],
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Weighted multi-corpus mixture: for each named source, keep a
    deterministic hash-keyed fraction of its rows and tag them with the
    source name — the data-mixing step that turns N cleaned corpora
    plus a mixture spec into one training set.

    ``corpora`` maps source name -> (DataFrame, sampling rate). All
    inputs must share a schema (unionByName). The keep decision hashes
    (seed, source, id), so retuning one source's rate never changes
    which rows the others keep, and reruns are byte-identical.
    Per-source narrow filters + union — no shuffle anywhere.
    """
    if not corpora:
        raise ValueError("mix_corpora: corpora must name at least one source")
    from .relational import union_sources

    parts = []
    for name, (df, rate) in sorted(corpora.items()):
        kept = df.filter(
            _keep_expr(sql_string(name), id_col, rate, seed)
        ).withColumn("source_name", F.lit(name))
        parts.append(kept)
    return union_sources(parts)


def sample_stratified(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    fraction: float | dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (the mixture-weights operator).

    ``fraction`` is either one rate for every stratum or a dict
    {stratum_value: rate}; strata missing from the dict are DROPPED
    (rate 0) — matching how mixture specs are written. The hash keys on
    (seed, stratum, id), so changing one stratum's rate never reshuffles
    which rows another stratum keeps.
    """
    if isinstance(fraction, dict):
        stratum = F.col(stratum_col)
        threshold = F.lit(0).cast("long")
        for value, fr in sorted(fraction.items()):
            # native-typed comparison, NOT cast("string") == str(value):
            # Spark renders booleans as 'true'/'false' (str(True) is
            # 'True') and doubles as '0.0' (str(0) is '0'), so a string
            # compare silently drops every row of a non-string stratum
            threshold = F.when(
                stratum == F.lit(value), F.lit(quantize(fr)).cast("long")
            ).otherwise(threshold)
        bucket = F.expr(
            f"{seed_hash_sql(seed, f'`{stratum_col}`', f'`{id_col}`')}"
            f" % {RESOLUTION}"
        )
        return df.filter(bucket < threshold)
    return df.filter(
        _keep_expr(f"`{stratum_col}`", id_col, float(fraction), seed)
    )


def sample_exact(
    df: DataFrame,
    k: int,
    id_col: str,
    seed: int = 0,
    with_rank: bool = False,
) -> DataFrame:
    """Exactly-k deterministic sample: the everyday "give me N
    examples" call (the reference displays a head of the bucket listing
    the same way, `testing/check_bucket_files.py:104-109`) — but
    reproducible, because rows are ranked by hash(seed:id) rather than
    by arrival order or `rand()`.

    Scale: `orderBy(...).limit(k)` compiles to TakeOrderedAndProject —
    every partition computes a local top-k and only k rows per
    partition reach the driver-side merge, so the corpus never
    serializes through one task. (A bare unpartitioned
    `row_number() OVER (ORDER BY ...)` would — that is the
    `WindowExec: No Partition Defined` anti-pattern this operator
    exists to replace.) When ``with_rank`` is set, the <= k survivors
    are ranked window-free via `relational.rank_small` — the same
    post-limit ranking pattern as `retrieval.bm25_search`.
    """
    h = F.expr(seed_hash_sql(seed, f"`{id_col}`"))
    out = df.withColumn("_sample_h", h).orderBy(
        F.col("_sample_h").asc(), F.col(id_col).asc()
    ).limit(int(k))
    if with_rank:
        # window-free rank of the <= k post-limit rows
        from .relational import rank_small

        out = rank_small(
            out,
            [("_sample_h", "asc"), (id_col, "asc")],
            rank_col="sample_rank",
        ).orderBy("sample_rank")
    return out.drop("_sample_h")


def sample_exact_per_group(
    df: DataFrame,
    k: int,
    group_cols: list[str],
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Exactly-k deterministic sample PER GROUP (balanced eval sets,
    per-source spot checks): rank rows within each group by
    hash(seed:id) and keep the first k.

    Unlike the global `sample_exact`, the window here IS partitioned —
    by the group key — so parallelism scales with group count and no
    single task ever sees more than one group. Catalyst further rewrites
    the rank+filter into WindowGroupLimit (per-partition partial top-k
    before the shuffle).
    """
    from pyspark.sql import Window

    h = F.expr(seed_hash_sql(seed, f"`{id_col}`"))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def sample_weighted(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis,
    IPL 2006, exponential-key formulation): each row draws a
    deterministic uniform u in (0,1] from hash(seed:id) and gets key
    -ln(u)/w; the k smallest keys form the sample, so inclusion
    probability tracks the weight (e.g. length-proportional doc
    sampling). Reproducible across runs/engines because u is
    hash-derived, not rand().

    Scale: narrow per-row key + `orderBy(key).limit(k)` =
    TakeOrderedAndProject, per-partition partial top-k. Weights must be
    strictly positive; rows with NULL, NaN, or non-positive weight are
    dropped (documented, not silently kept — note NaN > 0 is TRUE in
    Spark's ordering, so the explicit isnan guard is required).
    """
    u = (
        (
            F.expr(seed_hash_sql(seed, f"`{id_col}`"))
            % RESOLUTION
            + 1
        ).cast("double")
        / RESOLUTION
    )
    key = -F.log(u) / F.col(weight_col).cast("double")
    w_d = F.col(weight_col).cast("double")
    return (
        df.filter(w_d.isNotNull() & ~F.isnan(w_d) & (w_d > 0))
        .withColumn("_es_key", key)
        .orderBy(F.col("_es_key").asc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("_es_key")
    )


def select_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    score_col: str,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    ascending: bool = False,
    num_parts: int | None = None,
) -> DataFrame:
    """Data selection under a global TOKEN budget: rank documents by a
    quality score and keep the maximal ranked prefix whose cumulative
    token count fits ``budget_tokens`` — the standard way a pretraining
    corpus is cut to a target size (CCNet keeps the low-perplexity
    tail; quality-pruning work like DsDm/DoReMi selects top-ranked data
    up to the token budget, not a doc count, because training cost is
    measured in tokens).

    Ranking: (score, id) ascending when ``ascending=True`` (scores
    where LOWER is better — perplexity/xent), else (-score, id)
    (higher-is-better quality scores). The id tie-break makes the
    order — and therefore every cumulative sum — total and
    deterministic. ``keep`` is true iff the doc's INCLUSIVE running
    token total fits the budget: the greedy prefix rule, so one
    over-size document at the boundary ends the kept prefix rather
    than being skipped (no best-fit backtracking — deterministic,
    SQL-expressible, and the convention budget cuts use).

    Returns one row per input doc:
    (doc_id, score, n_tokens, cum_tokens, keep), cum_tokens the
    inclusive running total in rank order. Kept corpus =
    ``.filter("keep")``.

    Scale: the global running sum NEVER runs as an unpartitioned
    window (ORDER BY over a corpus = one task): the cut is
    ``select_token_budget_grouped``'s body with no group and one budget,
    a ``joins.running_sum`` over the rank key (range partition, one
    metadata-sized stats collect, per-partition running sum). Pass a
    NARROW frame (id, score, token count); join payloads back by id.
    Cumulative counts are integer longs — no float fold-order parity
    hazard anywhere.
    """
    if budget_tokens < 0:
        raise ValueError(
            f"select_token_budget: budget_tokens must be >= 0, got "
            f"{budget_tokens}"
        )
    return _budget_cut(
        docs, None, F.lit(int(budget_tokens)), score_col, tokens_col, id_col,
        ascending, num_parts,
    )


def _budget_cut(
    docs: DataFrame,
    group_col: str | None,
    budget: Column,
    score_col: str,
    tokens_col: str,
    id_col: str,
    ascending: bool,
    num_parts: int | None,
) -> DataFrame:
    """The one body of the token-budget cuts: rank by (score, id), take
    the inclusive running token total per group (``joins.running_sum``;
    one global total when ``group_col`` is None) and keep the rows whose
    total fits ``budget``, a Column that may read ``group_col``."""
    from .joins import running_sum

    groups = [group_col] if group_col else []
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(g).alias(g) for g in groups],
        F.col(score_col).alias("score"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    ).withColumn(
        # NULLS LAST: a NULL score coalesces to +inf on the rank key, so
        # unscored docs sort AFTER every scored doc (Spark's bare asc is
        # NULLS FIRST, which would let unvetted docs consume the budget
        # ahead of the best-scored ones); same rule as resolve_survivors
        "_ord",
        F.coalesce(
            F.col("score") if ascending else -F.col("score"),
            F.lit(float("inf")),
        ),
    )
    return (
        running_sum(base, ["_ord", "doc_id"], "n_tokens", groups, num_parts)
        .withColumnRenamed("_cum", "cum_tokens")
        .withColumn("keep", F.col("cum_tokens") <= budget)
        .select("doc_id", *groups, "score", "n_tokens", "cum_tokens", "keep")
    )


def select_token_budget_grouped(
    docs: DataFrame,
    budgets: dict[str, int],
    group_col: str,
    score_col: str,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    ascending: bool = False,
    num_parts: int | None = None,
    default_budget: int = 0,
) -> DataFrame:
    """Data selection under PER-GROUP token budgets — the mixture form
    of ``select_token_budget``: real corpus recipes cut per domain
    (DoReMi/Pile-style domain weights give each source its own token
    share, then the kept sets union), not one global prefix, because a
    single global cut lets a low-perplexity-skewed domain crowd out
    every other one.

    Within each group the semantics are EXACTLY the global operator's:
    rank by (score, id), keep the maximal prefix whose inclusive
    running token total fits that group's budget (greedy prefix, no
    best-fit backtracking). Consequence (asserted in
    tests/test_mixing.py): if each group's budget equals the tokens the
    GLOBAL selection allotted that group, the grouped kept set is
    identical to the global one — the operator only re-apportions the
    budget, never re-orders within a group.

    ``budgets`` maps group value -> token budget (driver-side dict —
    domain mixtures are tens of sources, metadata by construction;
    values must be >= 0). Groups absent from the dict get
    ``default_budget`` (default 0: unlisted domains contribute
    nothing — the conservative reading of a mixture recipe; pass a
    positive default to give unlisted groups a floor). NULL group
    values always get the default (Spark map keys cannot be NULL).

    Returns one row per input doc:
    (doc_id, <group_col>, score, n_tokens, cum_tokens, keep) with
    cum_tokens the group's inclusive running total. Kept corpus =
    ``.filter("keep")``.

    Scale: the per-group running sums are one ``joins.running_sum``
    grouped on ``group_col`` — range-partitioned on (group, rank key) so
    every group's prefix sum is spread across its partition span, with
    offsets per (partition, group) collected driver-side (metadata-sized:
    groups are contiguous under the range exchange) — and budgets apply
    as a literal map. No global window, no per-group single task, no
    collect of data rows. ``select_token_budget`` is this cut with no
    group and one budget.
    """
    bad = {g: b for g, b in budgets.items() if b < 0}
    if bad:
        raise ValueError(
            f"select_token_budget_grouped: budgets must be >= 0, got {bad}"
        )
    if default_budget < 0:
        raise ValueError(
            "select_token_budget_grouped: default_budget must be >= 0, "
            f"got {default_budget}"
        )
    budget = F.lit(int(default_budget))
    if budgets:
        budget_map = F.create_map(
            *[F.lit(v) for g, b in sorted(budgets.items()) for v in (g, int(b))]
        )
        budget = F.coalesce(F.element_at(budget_map, F.col(group_col)), budget)
    return _budget_cut(
        docs, group_col, budget, score_col, tokens_col, id_col, ascending,
        num_parts,
    )


def mix_temperature(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.3,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-scaled mixture weights (Lample & Conneau 2019 §3.1 —
    the standard multilingual/multi-corpus rebalancing): each source's
    natural share p_i (docs, or a ``weight_col`` sum such as tokens) is
    raised to ``alpha`` and renormalized, w_i = p_i^a / sum_j p_j^a.
    alpha < 1 upsamples low-resource sources (the XLM paper's a=0.3
    lifts rare languages without flattening the mix entirely); alpha=1
    is the natural mix; alpha=0 is uniform. The output feeds
    ``mix_corpora`` rates directly.

    Returns one row per source: (source, n, share, weight) with
    n = the raw count/sum (exact integer), share = n / total (exact
    integer ratio — bit-identical across engines), and weight the
    renormalized temperature weight.

    Cross-engine float discipline (the parity rules in
    plans/queries.py): pow() is the ONLY transcendental — computed on
    the exact share, then rounded to 6dp BEFORE the renormalizing sum,
    and the sum (a |sources|-sized aggregate) is itself rounded to 6dp
    before the final ratio, so partition-order float drift can never
    reach the hash.

    Scale shape: one map-side-combined aggregate to |sources| rows;
    the total comes back as an exact long literal from the same
    metadata-sized stats read that validates the spec, and only the
    renormalizing sum remains a one-row broadcast frame — the corpus
    is scanned ONCE and nothing per-doc ever shuffles."""
    # round-to-nearest, never truncate: a fractional weight column
    # (length-normalized tokens, sub-token weights) summed to 10.9
    # must count 11, not 10 — a bare cast("long") truncates toward
    # zero and systematically understates fractional sources
    n = (
        F.round(F.sum(F.col(weight_col)), 0).cast("long")
        if weight_col is not None
        else F.count("*").cast("long")
    )
    from .pinning import pin

    # the |sources|-sized aggregate is consumed THREE times (total, the
    # scored frame, the renormalizing sum) — pinned so the corpus scan
    # behind it runs exactly once
    per = pin(df.groupBy(F.col(source_col).alias("source")).agg(n.alias("n")))
    # ONE metadata-sized stats read over the pinned aggregate serves
    # both spec validations AND the total (round-15: this was two
    # probe jobs plus a broadcast one-row total frame — three jobs
    # where one suffices). The validations turn spec errors into a
    # clear driver-side ValueError instead of NaN weights (ONE
    # negative sum poisons every source's weight through the
    # renormalizing sum: pow(neg, 0.3) is NaN and NaN propagates
    # through sum) or a mid-job ANSI divide-by-zero (all-zero total in
    # the share ratio). The total rides back as an exact long literal —
    # the same integer the old one-row frame carried, so every share
    # ratio is bit-identical.
    stats = per.agg(
        F.min("n").alias("_mn"),
        F.max("n").alias("_mx"),
        F.sum("n").cast("long").alias("_total"),
    ).first()
    if stats["_mn"] is not None and stats["_mn"] < 0:
        raise ValueError(
            "mix_temperature: a source has a negative weight sum — "
            "weights must be non-negative"
        )
    if stats["_mx"] is None or stats["_mx"] <= 0:
        raise ValueError(
            "mix_temperature: no source has a positive weight sum "
            "(empty input or all-zero weights)"
        )
    total = F.lit(int(stats["_total"])).cast("long")
    p = per.select(
        "source",
        "n",
        (F.col("n").cast("double") / total).alias("share"),
        F.round(
            F.pow(F.col("n").cast("double") / total, F.lit(float(alpha))),
            6,
        ).alias("_pw"),
    )
    tot_pw = p.agg(F.round(F.sum("_pw"), 6).alias("_tot_pw"))
    return p.crossJoin(F.broadcast(tot_pw)).select(
        "source",
        "n",
        "share",
        F.round(F.col("_pw") / F.col("_tot_pw"), 6).alias("weight"),
    )


def dsir_diff_table(target_lm: dict, raw_lm: dict) -> tuple[dict, float]:
    """Per-token log importance-weight increments for DSIR (Xie et al.
    2023): d(t) = logp_target(t) - logp_raw(t) over the UNION of the
    two frozen vocabularies (a token seen by either model carries
    signal; a token known to neither contributes the constant
    oov_target - oov_raw). Computed driver-side from the two
    metadata-sized artifacts and shared by the Spark operator and the
    DuckDB oracle builder, so the two engines can never disagree on
    the table. Returns (diff_dict, oov_diff)."""
    lpt, lpr = target_lm["logp"], raw_lm["logp"]
    oov_t, oov_r = float(target_lm["oov_logp"]), float(raw_lm["oov_logp"])
    diff = {
        t: float(lpt.get(t, oov_t)) - float(lpr.get(t, oov_r))
        for t in set(lpt) | set(lpr)
    }
    return diff, oov_t - oov_r


def dsir_importance_weights(
    docs: DataFrame,
    target_lm: dict | None = None,
    raw_lm: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR log importance weight under two frozen unigram
    LMs (Xie et al. 2023 §3: w(doc) = p_target(doc)/p_raw(doc) over
    bag-of-token features, so log w = sum_t [logp_t(t) - logp_r(t)]).
    ``target_lm`` defaults to the committed artifacts/lm_target.json
    (tools/train_dsir_target.py), ``raw_lm`` to artifacts/lm.json —
    both through the frozen_lm seam; all transcendental math happened
    at TRAINING time.

    Returns (doc_id, logw) for EVERY input document: a zero-token doc
    has weight 1 (log 0.0) — the empty product — via an
    ``explode_outer`` whose NULL-term row sums to exactly 0.0
    (round-15, guide §2.4: the old shape left-joined the doc spine
    back to restore the docs a plain explode dropped — a second
    corpus scan plus a corpus-wide shuffle join). The per-doc sum
    is rounded ONCE at 6dp (the fold-order convention).

    Plan (100 TB): explode_outer -> broadcast join against the
    union-vocab DIFF table (one row per token — the two models are
    pre-subtracted driver-side, so one join does the work of two) ->
    one map-side-combined per-doc sum. Only the doc_id aggregation
    shuffles; ``tokens_sql`` never emits NULL elements, so a NULL term
    row is exactly a token-less doc and never draws the OOV mass."""
    from ..functions.artifacts import load_artifact
    from .text import frozen_lm

    if raw_lm is None:
        raw_lm = frozen_lm()
    if target_lm is None:
        target_lm = load_artifact(None, "lm_target.json")
    from ..functions.hashing import tokens_sql
    from ..session import ensure_parallelism

    diff, oov_diff = dsir_diff_table(target_lm, raw_lm)
    spine = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    dtab = docs.sparkSession.createDataFrame(
        sorted(diff.items()), "term string, _d double"
    )
    return (
        # key="doc_id": the per-doc sum below is the seam's next
        # shuffle — keyed repartition is the only exchange (§2.4)
        ensure_parallelism(spine, key="doc_id")
        .selectExpr("doc_id", f"explode_outer({tokens_sql('_t')}) AS term")
        .join(F.broadcast(dtab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("term").isNull(), F.lit(0.0)).otherwise(
                        F.coalesce(F.col("_d"), F.lit(float(oov_diff)))
                    )
                ),
                6,
            ).alias("logw")
        )
        .select("doc_id", "logw")
    )


def dsir_select(
    docs: DataFrame,
    k: int,
    target_lm: dict | None = None,
    raw_lm: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """DSIR selection (Xie et al. 2023): sample ``k`` documents WITHOUT
    replacement with probability proportional to the importance weight
    w = exp(logw) — Gumbel-top-k over the log weights, which is
    algebraically the Efraimidis-Spirakis exponential-key scheme of
    ``sample_weighted`` rewritten in log space:

        minimize  ln(-ln(u)) - logw      [= ln(-ln(u) / w)]

    so the ranking never exponentiates logw (a corpus-scale |logw| of
    hundreds would over/underflow exp, and exp is engine-local
    transcendental math besides). u is hash-derived from (seed, id) —
    deterministic across runs, engines, and partitioning — and mapped
    into the OPEN interval (0,1) so both ln calls are finite.

    Returns the selected (doc_id, logw) rows. Scale: the weights pass
    is the dsir_importance_weights plan; the selection is a narrow
    per-row key + orderBy(key).limit(k) = TakeOrderedAndProject
    (per-partition partial top-k, no global sort materialization)."""
    w = dsir_importance_weights(docs, target_lm, raw_lm, id_col, text_col)
    u = (
        (
            F.expr(seed_hash_sql(seed, "doc_id"))
            % RESOLUTION
            + 1
        ).cast("double")
        / (RESOLUTION + 1)
    )
    key = F.log(-F.log(u)) - F.col("logw")
    return (
        w.withColumn("_gk", key)
        .orderBy(F.col("_gk").asc(), F.col("doc_id").asc())
        .limit(int(k))
        .drop("_gk")
    )
