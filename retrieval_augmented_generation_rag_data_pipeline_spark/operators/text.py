"""Text-pipeline operators: chunking, dialogue formatting, and the
LLM-training-data text-analysis set (language ID, quality scoring,
token counting, fingerprinting).

Everything is built-in-function only (JVM-side, whole-stage codegen) —
no Python in the hot path — and every operator has a DuckDB-oracle twin
in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.artifacts import load_artifact
from ..functions.binding import let_sql
from ..functions.hashing import (
    LSH_BANDS,
    hash_array_sql,
    md5_long_sql,
    minhash_signature_sql,
    tokens_sql,
    word_shingles_sql,
)
from ..session import ensure_parallelism
from .joins import small_side, sql_string

# Tiny function-word profiles for the n-gram/stopword language heuristic.
# Deterministic and engine-portable (plain array intersection counts).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "una"],
}

# A BPE-ish token regex: words, single digits, or single punctuation marks.
BPE_ISH = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"
PUNCT_CLASS = "[.,!?;:]"


def chunk_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 32,
    keep_chunkless: bool = False,
) -> DataFrame:
    """Split documents into fixed-size word chunks (W3 generalized — the
    reference chunks audio into 30s windows at src/transcription.py:157;
    the text analog for RAG is fixed-token chunking).

    Returns (doc_id, chunk_idx, chunk_text, n_words) — one row per chunk,
    via explode (narrow, no shuffle). The token array is let-bound: the
    chunk-builder lambda slices it per chunk, and HOF lambdas run
    interpreted, so an inline tokens_sql(text) would re-tokenize per chunk.
    Empty/whitespace-only docs are handled by emitting an EMPTY chunk
    array inside the binding (explode drops it) rather than a separate
    `.filter(size(tokens) > 0)` — the filter's predicate would carry its
    own tokens_sql(text) copy in a different operator, which codegen CSE
    cannot merge with the projection's, doubling the tokenize per row
    (round-6 review finding).

    ``keep_chunkless=True`` (round-15) switches the explode to an
    ``explode_outer``: a chunkless doc (empty/whitespace/NULL text)
    keeps ONE row with NULL chunk_idx/chunk_text/n_words instead of
    vanishing — consumers that must return one row per input doc
    (chunk_dedup's corpus rebuild) aggregate that marker row directly
    instead of left-joining a distinct doc spine back on afterwards
    (two extra corpus-id shuffles). Real chunk rows never carry a NULL
    chunk_text, so the marker is unambiguous.
    """
    # the whole let-bound chunk builder is ONE SQL string (round 16
    # py4j discipline — the Column form was ~350 round trips per
    # construction, paid by chunk_documents, dedup_chunks and
    # dedup_incremental every bench run); guard: sequence(0, -1) for
    # an empty doc would yield [0, -1] (negative step), emitting a
    # bogus empty chunk — and a NULL text must yield no rows, same as
    # the old filter
    w = int(chunk_words)
    chunks = let_sql(
        tokens_sql(f"`{text_col}`"),
        "tk",
        "CASE WHEN size(tk) > 0 THEN "
        f"transform(sequence(0, CAST(FLOOR((size(tk) - 1) / {w}) AS INT)), "
        "i -> named_struct('chunk_idx', i, 'chunk_text', "
        f"array_join(slice(tk, i * {w} + 1, {w}), ' '))) "
        "ELSE CAST(array() AS array<struct<chunk_idx:int,chunk_text:string>>)"
        " END",
    )
    explode_fn = "explode_outer" if keep_chunkless else "explode"
    return (
        df.selectExpr(
            f"`{id_col}` AS doc_id", f"{explode_fn}({chunks}) AS c"
        )
        .selectExpr(
            "doc_id",
            "CAST(c.chunk_idx AS BIGINT) AS chunk_idx",
            "c.chunk_text AS chunk_text",
        )
        .selectExpr(
            "*", "CAST(size(split(chunk_text, ' ')) AS BIGINT) AS n_words"
        )
    )


def format_dialogue(
    df: DataFrame,
    t0: str = "t_start",
    t1: str = "t_end",
    speaker: str = "speaker",
    text: str = "text",
) -> DataFrame:
    """Dialogue line projection `[%.2f-%.2f] %s: %s`
    (reference src/transcription.py:357-359)."""
    return df.select(
        F.format_string(
            "[%.2f-%.2f] %s: %s",
            F.col(t0),
            F.col(t1),
            F.col(speaker),
            F.col(text),
        ).alias("line")
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax over per-language function-word hit
    rate. Returns (doc_id, pred_lang, lang_score). Deterministic
    tie-break: higher score, then lexicographic language code.

    The token array is let-bound (functions.binding.let_sql): the
    per-language scores reference it NUM_LANGS+1 times, and a plain
    staged projection would re-tokenize per reference as soon as a
    caller filters on pred_lang (filter pushdown inlines the alias)."""
    # greatest(n, 1): an empty doc has n = 0 and the bare ratio dies
    # with DIVIDE_BY_ZERO under Spark 4's default ANSI mode; guarded,
    # every language scores 0.0 and the tie-break picks the lexico-
    # graphically first code — same as the oracle's guarded form
    scores = [
        "struct(size(filter(toks, t -> array_contains(array("
        + ", ".join(sql_string(w) for w in words)
        + "), t))) / CAST(greatest(size(toks), 1) AS DOUBLE) AS score, "
        f"{sql_string(code)} AS code)"
        for code, words in sorted(LANG_PROFILES.items())
    ]
    best = (
        f"aggregate(array({', '.join(scores)}), {scores[0]}, (acc, s) -> "
        "CASE WHEN s.score > acc.score OR (s.score = acc.score AND "
        "s.code < acc.code) THEN s ELSE acc END)"
    )
    m = let_sql(
        tokens_sql(f"`{text_col}`"),
        "toks",
        f"struct({best}.code AS pred_lang, round({best}.score, 6) AS lang_score)",
    )
    staged = df.selectExpr(f"`{id_col}` AS doc_id", f"{m} AS _m")
    return staged.selectExpr(
        "doc_id", "_m.pred_lang AS pred_lang", "_m.lang_score AS lang_score"
    )


def _num_sql(v) -> str:
    """A Python number as the SQL literal ``F.lit`` builds for it (a
    float as DOUBLE, not the parser's DECIMAL)."""
    return f"{v!r}D" if isinstance(v, float) else str(int(v))


def _quality_signals_sql(t: str, toks: str):
    """The shared (n_tok, punct, stop_ratio, mean_wlen, score) SQL
    family over a text reference ``t`` and a token-array variable
    ``toks`` — quality_score REPORTS it, quality_filter GATES on it; one
    builder so a weight tweak can never desynchronize the two."""
    n_tok = f"CAST(size({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({t}) AS DOUBLE)"
    punct = (
        f"(({n_chars} - length(regexp_replace({t}, '{PUNCT_CLASS}', ''))) / "
        f"greatest({n_chars}, 1.0D))"
    )
    stop = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    # greatest(n_tok, 1): an empty/whitespace-only doc has n_tok = 0 and
    # a bare /n_tok dies with DIVIDE_BY_ZERO under Spark 4's default
    # ANSI mode (killing prepare_corpus on one blank doc); the guarded
    # form gives 0-ratios, same as the punct denominator above and the
    # oracle's greatest(len(tk), 1)
    n_tok_safe = f"greatest({n_tok}, 1.0D)"
    stop_ratio = (
        f"(size(filter({toks}, x -> array_contains(array({stop}), x))) / "
        f"{n_tok_safe})"
    )
    mean_wlen = (
        f"(aggregate({toks}, 0.0D, (s, x) -> s + CAST(length(x) AS DOUBLE)) / "
        f"{n_tok_safe})"
    )
    score = (
        f"(least({n_tok} / 64.0D, 1.0D) * 0.4D"
        f" + least({stop_ratio} * 4.0D, 1.0D) * 0.3D"
        f" + CASE WHEN {mean_wlen} >= 3.0D AND {mean_wlen} <= 10.0D"
        " THEN 0.3D ELSE 0.0D END"
        f" - {punct})"
    )
    return n_tok, punct, stop_ratio, mean_wlen, score


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic document quality: length, punctuation ratio, stopword
    ratio, mean word length -> composite score in [0,1]-ish.

    Mirrors the standard pretraining-data quality filters (C4/Gopher
    style rules) as pure column arithmetic. The token array is
    let-bound and all metrics emitted as one struct, so a caller
    filtering on any metric (pushdown inlines the projection) still
    tokenizes once per row — see functions.binding.let_sql.
    """
    t = f"`{text_col}`"
    n_tok, punct, stop_ratio, mean_wlen, score = _quality_signals_sql(t, "toks")
    metrics = let_sql(
        tokens_sql(t),
        "toks",
        f"struct(CAST({n_tok} AS BIGINT) AS n_tokens, "
        f"round({punct}, 6) AS punct_ratio, "
        f"round({stop_ratio}, 6) AS stopword_ratio, "
        f"round({mean_wlen}, 6) AS mean_word_len, "
        f"round({score}, 6) AS quality)",
    )
    staged = df.selectExpr(f"`{id_col}` AS doc_id", f"{metrics} AS _m")
    return staged.selectExpr(
        "doc_id",
        "_m.n_tokens AS n_tokens",
        "_m.punct_ratio AS punct_ratio",
        "_m.stopword_ratio AS stopword_ratio",
        "_m.mean_word_len AS mean_word_len",
        "_m.quality AS quality",
    )


def token_count(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens) — whitespace + regex token counts."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"CAST(size({tokens_sql(f'`{text_col}`')}) AS BIGINT)").alias(
            "ws_tokens"
        ),
        F.size(F.regexp_extract_all(t, F.lit(BPE_ISH), 0)).cast("long").alias(
            "bpe_ish_tokens"
        ),
    )


def doc_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Rolling-shingle-hash document fingerprint: min and max shingle hash
    (a 1-permutation MinHash sketch — stable under reordering-free edits).
    The shingle-hash array is let-bound so a pushed filter on either
    fingerprint hashes once, not per reference; the whole-doc fallback
    digest is inlined so coalesce short-circuits it (see comment)."""
    # the whole-doc md5 fallback is deliberately NOT let-bound: let
    # evaluates its binding unconditionally per row, which would compute
    # a full-text hash for EVERY document; inlined, coalesce
    # short-circuits and only the rare < k-token docs (where
    # array_min(hs) is NULL) ever pay it — at most twice, and only for
    # those rows
    t = f"`{text_col}`"
    whole = md5_long_sql(f"trim({t})")
    fp = let_sql(
        hash_array_sql(word_shingles_sql(tokens_sql(t), k)),
        "hs",
        f"struct(coalesce(array_min(hs), {whole}) AS fp_min, "
        f"coalesce(array_max(hs), {whole}) AS fp_max)",
    )
    staged = df.selectExpr(f"`{id_col}` AS doc_id", f"{fp} AS _m")
    return staged.selectExpr("doc_id", "_m.fp_min AS fp_min", "_m.fp_max AS fp_max")


def _dup_frac_sql(arr: str) -> str:
    """Duplicate fraction of an n-gram array, 6dp-rounded; empty -> 0.0.
    ONE definition shared by repetition_metrics (reports it) and
    quality_filter (gates on it) so a rounding or empty-array tweak can
    never desynchronize the reported metric from the gate."""
    return (
        f"CASE WHEN size({arr}) > 0 THEN round((size({arr}) - "
        f"size(array_distinct({arr}))) / CAST(size({arr}) AS DOUBLE), 6) "
        "ELSE 0.0D END"
    )


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1: documents
    dominated by repeated n-grams are low-quality): the duplicate
    fraction 1 - distinct/total for 1/2/3-word grams, per document.

    Pure per-row array arithmetic (tokens -> shingles -> distinct
    counts) — narrow, scan-side, no shuffle; empty/short docs yield 0.
    Token and shingle arrays are let-bound (functions.binding.let_sql): the
    old staged projection built THREE tokenize copies (one inside each
    shingle expr), and a pushed filter on any fraction would multiply
    that further.
    """

    dups = (
        f"struct({_dup_frac_sql('toks')} AS dup_unigram_frac, "
        f"{_dup_frac_sql('bi')} AS dup_bigram_frac, "
        f"{_dup_frac_sql('tri')} AS dup_trigram_frac)"
    )
    metrics = let_sql(
        tokens_sql(f"`{text_col}`"),
        "toks",
        let_sql(
            word_shingles_sql("toks", 2),
            "bi",
            let_sql(word_shingles_sql("toks", 3), "tri", dups),
        ),
    )
    staged = df.selectExpr(f"`{id_col}` AS doc_id", f"{metrics} AS _m")
    return staged.selectExpr(
        "doc_id",
        "_m.dup_unigram_frac AS dup_unigram_frac",
        "_m.dup_bigram_frac AS dup_bigram_frac",
        "_m.dup_trigram_frac AS dup_trigram_frac",
    )


def normalize_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonicalize text ahead of exact dedup / fingerprinting:
    lowercase, collapse every whitespace run (spaces/tabs/newlines) to
    one space, strip the ends. Two byte-identical-after-normalization
    docs then collapse under ``dedup_exact`` even when they differ in
    case or formatting — the standard canonicalization step before
    content-digest dedup in web-scale pipelines (C4 and friends).

    Pure JVM-side string ops (narrow, pushdown-friendly). The whitespace
    class is spelled out explicitly rather than via ``\\s`` because the
    two engines disagree on its contents — Java's ``\\s`` includes
    vertical tab (\\x0B) while RE2's is ``[\\t\\n\\f\\r ]`` — so the
    explicit class ``[ \\t\\n\\x0B\\f\\r]+`` is the portable spelling
    that both run identically (RE2 accepts ``\\x0B`` as an escape even
    though its ``\\s`` excludes it). Returns (doc_id, norm_text).
    """
    clean = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+", " ")
    )
    return df.select(F.col(id_col).alias("doc_id"), clean.alias("norm_text"))


def _drop_marked_rows(staged: DataFrame, drop: Column, payload_col: str) -> DataFrame:
    """Keep rows where ``drop`` is falsy via the explode-marker shape.

    NOT a .filter(): a filter over the sketch expression gets
    predicate-pushed below the ensure_parallelism repartition and the
    whole tokenize->shingle->md5 chain re-evaluates on the raw (often
    single-partition) input — the minhash_band_keys lesson. A
    when(...)-guarded one/zero-element array explode drops rows in the
    generator itself, which nothing can push down. (explode of the
    NULL otherwise-branch emits no row.)"""
    return staged.select(
        F.explode(F.when(~drop, F.array(F.col(payload_col)))).alias("_r")
    ).select("_r.*")


def _explode_keys() -> Column:
    """One row per distinct ``_k`` key. The explode's input must be an
    expression, not the bare ``_k`` column: from an attribute input
    Spark infers a ``size(_k) > 0`` filter, and pushing it down inlines
    the whole sketch chain into the scan-side filter (below the
    ensure_parallelism repartition, evaluated twice)."""
    return F.explode(F.array_distinct("_k")).alias("_k")


def _drop_contaminated(
    docs: DataFrame, staged: DataFrame, bench_keys: DataFrame
) -> DataFrame:
    """The decontaminate tiers: drop each ``staged`` row — ``_p`` (the
    doc row as a struct) plus ``_k`` (its array of sketch keys) — with
    ANY key among ``bench_keys``' one ``_k`` column.

    The benchmark keys go through ``joins.small_side``, and the drop is
    per ROW on both of its tiers, so they agree row for row: a
    duplicated doc id never takes its clean twin with it, and a
    contaminated row with a NULL id never survives.

    - Inline: ``exists(_k, k -> k IN (...))`` on the one corpus scan —
      no semi join, no anti join, no doc-side shuffle.
    - Join tier (a benchmark past the bound, or plan inspection): the
      staged keys explode into one broadcast semi join against the
      distinct benchmark keys, and the hit rows leave by a null-safe
      anti join on the whole-row struct ``_p``. Rows with equal ``_p``
      have equal text, hence equal verdicts, so keying on ``_p`` is
      exact. At 100 TB the benchmark side is test-set-sized and
      broadcasts; nothing ever materializes a pair list."""
    side = small_side(docs.sparkSession, bench_keys)
    if side.n == 0:
        return docs
    if side.frame is None:
        hit = F.expr(f"coalesce(exists(_k, k -> {side.in_sql('k')}), false)")
        return _drop_marked_rows(staged, hit, "_p")
    hits = staged.select("_p", _explode_keys()).join(
        F.broadcast(side.frame), "_k", "left_semi"
    )
    d, h = staged.select("_p").alias("_d"), hits.alias("_h")
    return d.join(
        h, F.col("_d._p").eqNullSafe(F.col("_h._p")), "left_anti"
    ).select("_p.*")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: drop every document sharing ANY word
    n-gram with a held-out evaluation corpus (the n-gram-overlap
    test-set filter described in the GPT-3 appendix and standard in
    open-data pipelines since; n=8 is the conventional window).

    Returns ``docs`` rows whose text contains no benchmark n-gram.

    Both corpora run the same staged tokenize→shingle→md5 pipeline as
    the dedup sketches. The benchmark's distinct gram hashes are the
    small side of ``_drop_contaminated``: test-set-sized, they ride
    inline as one ``IN`` literal probed on the single corpus scan (the
    round-16 fast path, guide §2.4), and a benchmark past
    ``joins.INLINE_MAX_BYTES`` — MMLU's 14k test items, say — takes
    the broadcast join tier without its hashes reaching the driver.
    Either way a document is dropped per row, never by id.
    """
    def keys(text: str) -> str:
        return hash_array_sql(word_shingles_sql(tokens_sql(f"`{text}`"), n))

    staged = ensure_parallelism(docs).select(
        F.struct(*[F.col(c) for c in docs.columns]).alias("_p"),
        F.expr(keys(text_col)).alias("_k"),
    )
    bench_keys = benchmark.selectExpr(
        f"explode(array_distinct({keys(bench_text_col)})) AS _k"
    )
    return _drop_contaminated(docs, staged, bench_keys)


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """FUZZY benchmark decontamination (round-14 verdict item 6): drop
    every document whose MinHash-LSH band signature collides with any
    benchmark document — the near-duplicate contamination that exact
    n-gram overlap provably misses (a paraphrase that reorders or
    substitutes one word in each window shares ZERO 8-grams with the
    benchmark yet is the same leaked item; LSH over k-word shingles
    still collides because most shingles survive).

    Conservative by design: an LSH collision is probabilistic, and for
    decontamination a false positive costs one training doc while a
    false negative leaks an eval item — so candidates are dropped
    without a verification pass (run ``decontaminate`` alongside for
    the exact tier; dedup.verify_pairs_jaccard exists if a deployment
    wants to audit the dropped set).

    PRECONDITION — benchmark rows need >= k words: a benchmark item
    shorter than the shingle width emits NO band keys (the
    minhash_band_keys empty-signature rule) and gets no fuzzy
    protection — and an item under n words is equally invisible to
    the exact n-gram tier. Eval sets with 1-2-word answers (label
    sets, short QA) must be decontaminated by exact-match/containment
    on the answer STRING instead; sketch-based tiers are the wrong
    tool below the shingle width.

    Both corpora run the SHARED tokenize -> shingle -> MinHash -> band
    chain (the hashing *_sql forms and dedup.band_key_sql — the pieces
    of minhash_band_keys and lsh_candidate_pairs, so fuzzy-decon and
    dedup can never band differently).

    Each row's keys are its LSH_BANDS band keys prefixed with the band
    number (``band:key``), so one key set covers every band. The
    benchmark's distinct keys are the small side of
    ``_drop_contaminated``: inline as one ``IN`` literal on the single
    corpus scan while they fit ``joins.INLINE_MAX_BYTES``, else the
    broadcast join tier. Either way a document is dropped per row,
    never by id."""
    from .dedup import band_key_sql

    keys = ", ".join(
        f"concat_ws(':', {b}, {band_key_sql('_sig', b)})"
        for b in range(LSH_BANDS)
    )

    def sketch(df: DataFrame, payload: Column, text: str) -> DataFrame:
        # the minhash_band_keys staging: one (payload, _h) projection,
        # one (_ok, _sig) projection, band keys as cheap array indexing
        # over the staged _sig; shingle-less rows get no keys
        h = hash_array_sql(word_shingles_sql(tokens_sql(f"`{text}`"), k))
        return (
            df.select(payload.alias("_p"), F.expr(h).alias("_h"))
            .selectExpr(
                "_p", "size(_h) > 0 AS _ok", f"{minhash_signature_sql('_h')} AS _sig"
            )
            .selectExpr("_p", f"CASE WHEN _ok THEN array({keys}) END AS _k")
        )

    staged = sketch(
        ensure_parallelism(docs),
        F.struct(*[F.col(c) for c in docs.columns]),
        text_col,
    )
    bench_keys = sketch(benchmark, F.lit(0), bench_text_col).select(
        _explode_keys()
    )
    return _drop_contaminated(docs, staged, bench_keys)


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    min_quality: float = 0.3,
    max_dup_trigram: float = 0.3,
) -> DataFrame:
    """One-call corpus hygiene policy: the composite keep/drop decision a
    training-data pipeline actually applies (Gopher-rule shape, Rae et
    al. '21 §A1.1 — length floor, composite quality floor, repeated
    n-gram ceiling), with per-rule flags so drops are auditable.

    Computes every signal in ONE evaluation of the tokenize pipeline per
    row — and stays one evaluation even under predicate pushdown. A
    plain staged-projection (`.selectExpr(f"{tokens_sql(text)} AS _tk")`) is
    NOT enough: a downstream `.filter(keep)` pushes the predicate
    through the projection, substituting the tokens expression at every
    reference (~30x here), and the duplicated higher-order lambdas get
    fresh variable ids, defeating codegen subexpression elimination —
    measured 42s for 5k docs at sf0.1 before this fix. The let-binding
    idiom (functions.binding.let_sql) binds the expensive array to a lambda
    variable evaluated once per row no matter how many times the body
    references it, and the whole expression survives pushdown intact.
    The token array and trigram array are nested bindings; all outputs
    (metrics + flags + keep) are fields of ONE struct, so a pushed
    filter on `keep` inlines exactly one tokenize.

    Returns (doc_id, n_tokens, quality, dup_trigram_frac, is_too_short,
    is_low_quality, is_repetitive, keep). Narrow, no shuffle.
    """
    t = f"`{text_col}`"
    n_tok, _punct, _stop_ratio, _mean_wlen, score = _quality_signals_sql(
        t, "toks"
    )
    n_tokens = f"CAST({n_tok} AS BIGINT)"
    quality = f"round({score}, 6)"
    dup3 = _dup_frac_sql("tri")
    too_short = f"({n_tokens} < {_num_sql(min_tokens)})"
    low_q = f"({quality} < {_num_sql(min_quality)})"
    rep = f"({dup3} > {_num_sql(max_dup_trigram)})"
    flags = (
        f"struct({n_tokens} AS n_tokens, {quality} AS quality, "
        f"{dup3} AS dup_trigram_frac, {too_short} AS is_too_short, "
        f"{low_q} AS is_low_quality, {rep} AS is_repetitive, "
        f"NOT {too_short} AND NOT {low_q} AND NOT {rep} AS keep)"
    )
    gate = let_sql(
        tokens_sql(t),
        "toks",
        let_sql(word_shingles_sql("toks", 3), "tri", flags),
    )
    staged = df.selectExpr(f"`{id_col}` AS doc_id", f"{gate} AS _m")
    return staged.selectExpr(
        "doc_id",
        "_m.n_tokens AS n_tokens",
        "_m.quality AS quality",
        "_m.dup_trigram_frac AS dup_trigram_frac",
        "_m.is_too_short AS is_too_short",
        "_m.is_low_quality AS is_low_quality",
        "_m.is_repetitive AS is_repetitive",
        "_m.keep AS keep",
    )


def vocab_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy of each document's token distribution (nats):
    H = -sum over distinct tokens of (c/n) ln(c/n). Low entropy flags
    repetitive/templated text (complements the dup-n-gram fractions);
    high entropy approaches ln(n_tokens) for all-distinct docs.

    Pure per-row array arithmetic — narrow, scan-side, no shuffle. The
    fold runs over the SORTED distinct-token list so the float
    accumulation order is engine-independent (bit-identical oracle, not
    just close). Per-row cost is O(tokens x distinct) — fine for
    documents; corpus-level distributions belong to ngram_topk/
    corpus_stats, not here. Empty docs yield 0.0.
    """
    p = "CAST(size(filter(toks, x -> x = t)) AS DOUBLE) / CAST(size(toks) AS DOUBLE)"
    h = f"aggregate(uniq, 0.0D, (acc, t) -> acc - ({p}) * ln({p}))"
    # NULL text -> NULL entropy (size(NULL) > 0 is NULL and would fall
    # into the 0.0 branch, stamping a concrete "maximally repetitive"
    # score on an unmeasurable doc next to NULL counts); 0.0 stays the
    # EMPTY-doc value
    metrics = let_sql(
        tokens_sql(f"`{text_col}`"),
        "toks",
        let_sql(
            "array_sort(array_distinct(toks))",
            "uniq",
            "struct(CAST(size(toks) AS BIGINT) AS n_tokens, "
            "CAST(size(uniq) AS BIGINT) AS n_distinct, "
            f"CASE WHEN size(toks) > 0 THEN round({h}, 6) "
            "WHEN toks IS NOT NULL THEN 0.0D "
            "ELSE CAST(NULL AS DOUBLE) END AS entropy)",
        ),
    )
    staged = df.selectExpr(f"`{id_col}` AS doc_id", f"{metrics} AS _m")
    return staged.selectExpr(
        "doc_id",
        "_m.n_tokens AS n_tokens",
        "_m.n_distinct AS n_distinct",
        "_m.entropy AS entropy",
    )


def corpus_stats(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang",),
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus summary — the "dataset card" numbers every
    training-data release publishes: document count, total characters,
    mean tokens per doc, and exact p50/p90 token counts.

    One hash aggregation on the group key (map-side combined); the
    exact percentiles sort within each group — at 100 TB swap to
    ``approx_percentile`` (t-digest sketch, no sort) when a tolerance
    is acceptable, same as agg_percentile's documented trade-off.
    """
    staged = df.select(
        *group_cols,
        F.expr(f"size({tokens_sql(f'`{text_col}`')})").alias("_nt"),
        F.length(F.col(text_col)).alias("_nc"),
    )
    return staged.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_nc").cast("long").alias("total_chars"),
        F.round(F.avg("_nt"), 6).alias("mean_tokens"),
        F.round(F.expr("percentile(_nt, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(_nt, 0.9)"), 6).alias("p90_tokens"),
    )


def ngram_topk(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k most frequent word n-grams — the corpus-stats
    operator behind boilerplate detection (a handful of n-grams
    dominating a crawl snapshot is the classic template/boilerplate
    signal) and frequency-based filter rules.

    Returns (gram, n_occurrences) ordered by count desc then gram asc.
    Plan: explode shingles (narrow) → hash agg on gram with map-side
    partial aggregation (the heavy hitters combine before the shuffle,
    so shuffle volume is bounded by distinct-gram count per partition,
    not token count) → TakeOrderedAndProject for the top-k (per
    partition partial top-k; no global sort materializes).
    """
    grams = ensure_parallelism(df).selectExpr(
        f"explode({word_shingles_sql(tokens_sql(f'`{text_col}`'), n)}) AS gram"
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


# PII patterns — deliberately RE2-compatible (no backrefs/lookarounds)
# so the same regex runs in Spark (Java) and DuckDB (RE2) verbatim.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9() -]{7,}[0-9]"


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / IPv4s / international phone numbers, keeping
    per-doc counts of what was removed (the audit trail a training-data
    pipeline needs before text leaves the boundary).

    Order matters: emails first (their domains would otherwise partially
    match the phone charset), then IPs, then phones. All JVM-side
    regexp_replace / regexp_extract_all — narrow, no UDF.

    Each count is taken on the PREVIOUS stage's text (emails on the
    original, IPs on the email-scrubbed text, phones on the IP-scrubbed
    text), so counts equal actual replacements: an IP-shaped substring
    inside an email (user@1.2.3.4) is consumed by <EMAIL> and is not
    double-counted as an IP. The stage chain is LET-BOUND
    (functions.binding.let_sql), not staged projections: filter pushdown
    substitutes projection aliases into pushed predicates (the exact
    hazard let_sql exists for — see quality_filter), so a caller
    filtering on n_phones or clean_text would otherwise re-run the
    whole regex chain inside the pushed Filter.
    """
    t0 = f"`{text_col}`"
    email, ipv4, phone = (sql_string(p) for p in (PII_EMAIL, PII_IPV4, PII_PHONE))
    # the body also reads the text column, so the stage variables carry
    # names no column is expected to have
    counts = (
        f"struct(regexp_replace(_t2, {phone}, '<PHONE>') AS clean_text, "
        f"CAST(size(regexp_extract_all({t0}, {email}, 0)) AS BIGINT) AS n_emails, "
        f"CAST(size(regexp_extract_all(_t1, {ipv4}, 0)) AS BIGINT) AS n_ips, "
        f"CAST(size(regexp_extract_all(_t2, {phone}, 0)) AS BIGINT) AS n_phones)"
    )
    m = let_sql(
        f"regexp_replace({t0}, {email}, '<EMAIL>')",
        "_t1",
        let_sql(f"regexp_replace(_t1, {ipv4}, '<IP>')", "_t2", counts),
    )
    staged = df.selectExpr(f"`{id_col}` AS doc_id", f"{m} AS _m")
    return staged.selectExpr(
        "doc_id",
        *[f"_m.{c} AS {c}" for c in ("clean_text", "n_emails", "n_ips", "n_phones")],
    )


def frozen_classifier(path: str | None = None) -> dict:
    """The committed frozen quality-classifier artifact
    (artifacts/quality_clf.json, written by tools/train_classifier.py
    — the FineWeb-Edu/DCLM-style trained quality signal; round-12
    verdict item 3). Same train/freeze/apply seam as ``frozen_lm``:
    per-token logistic-regression weights + intercept, metadata-sized,
    trained offline on the seeded reference corpus, applied to any
    corpus at any sf, weight literals replayed verbatim by the DuckDB
    oracle. Loaded once per process (tiny, cached)."""
    return load_artifact(path, "quality_clf.json")


def quality_classifier(
    docs: DataFrame,
    clf: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document quality logit under the frozen trained classifier
    — the model-based quality signal of FineWeb-Edu / DCLM (train a
    classifier on a labeled slice, freeze it, score the corpus, keep
    the high tail), restated through the train/freeze/apply seam.
    ``clf`` is the artifact dict (default ``frozen_classifier()``)
    carrying per-token weights computed at TRAINING time — neither
    engine does its own training or transcendental math on unshared
    inputs; scoring is pure relational arithmetic over shared
    literals.

    Returns (doc_id, n_tokens, logit, pred) for EVERY input document
    (unlike the LM family, a zero-token document has a well-defined
    score — the bare intercept — so the explode is an
    ``explode_outer``: a token-less doc keeps one NULL-term row that
    contributes 0 weight and 0 to n_tokens, instead of the corpus-wide
    spine left-join the pre-round-15 shape paid to resurrect dropped
    docs):

        logit = intercept + round(sum_t count(t) * w(t), 6)
        pred  = logit >= 0          [the classifier's keep verdict]

    Out-of-vocab tokens carry no trained signal and contribute 0 (the
    broadcast join's miss branch — coalesce(w, 0)). Rounding happens
    ONCE, on the fold-order-sensitive double sum (the lm_cross_entropy
    convention); adding the shared intercept literal afterwards is
    IEEE-754 deterministic, and the gate compares the LOGIT, never the
    sigmoid (monotone — same ranking, no engine-local exp).

    Plan (100 TB): explode_outer -> broadcast hash join against the
    vocab-sized weight table -> ONE partial-aggregating per-doc sum —
    the whole operator is a single corpus pass and a single shuffle
    (round-15, guide §2.4: the old spine left-join re-scanned the
    corpus and shuffled it a second time just to restore zero-token
    docs the plain explode dropped; the outer explode keeps them in
    the aggregate — its NULL-term row contributes 0 weight, and
    ``count(term)`` skips NULLs so n_tokens lands on 0). The weight
    table is metadata-sized (<= max_vocab rows) and rides a
    broadcast, never a per-token map literal. ``tokens_sql`` can never
    emit NULL elements (split+filter), so a NULL term row is
    EXACTLY a token-less doc."""
    if clf is None:
        clf = frozen_classifier()
    spine = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    weights = docs.sparkSession.createDataFrame(
        list(clf["weights"].items()), "term string, _w double"
    )
    b = float(clf["intercept"])
    # key="doc_id": the groupBy below is the seam's next shuffle, so
    # the keyed repartition is the operator's ONLY exchange (§2.4)
    ex = ensure_parallelism(spine, key="doc_id").select(
        "doc_id", F.expr(f"explode_outer({tokens_sql('_t')})").alias("term")
    )
    summed = (
        ex.join(F.broadcast(weights), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("term").isNull(), F.lit(0.0)).otherwise(
                        F.coalesce(F.col("_w"), F.lit(0.0))
                    )
                ),
                6,
            ).alias("_ws"),
            F.count("term").cast("long").alias("n_tokens"),
        )
    )
    logit = F.lit(b) + F.coalesce(F.col("_ws"), F.lit(0.0))
    return summed.select(
        "doc_id",
        "n_tokens",
        logit.alias("logit"),
        (logit >= 0.0).alias("pred"),
    )


def frozen_subword(path: str | None = None) -> dict:
    """The committed frozen subword-tokenizer artifact
    (artifacts/subword.json, written by tools/train_subword.py — BPE
    pieces learned offline, Sennrich et al. 2016). Application is
    greedy longest-prefix match over the frozen pieces
    (WordPiece-style inference, Wu et al. 2016) — deterministic,
    merge-rank-free, replayed literal-for-literal by the DuckDB
    oracle. Loaded once per process (tiny, cached)."""
    return load_artifact(path, "subword.json")


# Words longer than this count as ONE UNK piece instead of being
# segmented — the WordPiece max_input_chars_per_word rule. Without the
# cap, one pathological multi-megabyte "word" (minified JS, base64
# blobs) would materialize a sequence array of its length and fold
# over it inside a single row — a per-row memory/CPU DoS at corpus
# scale. 64 covers every natural-language word.
MAX_WORD_CHARS = 64


def subword_segment_expr(word: Column, pieces: list[str]) -> Column:
    """Piece count of greedy longest-prefix-match segmentation of
    ``word`` over the frozen ``pieces`` — ONE narrow fold expression
    (aggregate over a position sequence), no UDF, no join, no driver
    loop:

        pos=1, n=0; repeat len(word) times:
          if pos <= len: advance by the LONGEST piece matching at pos
          (an unseen character advances 1 as a single UNK piece, so
          every step advances and len(word) iterations always finish)

    The per-step candidate check is one array_contains per piece
    LENGTH (longest first) against length-bucketed literal arrays —
    vocabulary work is bounded by the metadata-sized frozen artifact,
    and the intended call pattern keys this over DISTINCT words (see
    token_count_subword), never per corpus token."""
    by_len: dict[int, list[str]] = {}
    for p in pieces:
        by_len.setdefault(len(p), []).append(p)
    # length-1 pieces need no membership test: a single character
    # advances one position whether it's a known piece or UNK
    arrs = {
        l: F.array(*[F.lit(p) for p in sorted(ps)])
        for l, ps in by_len.items()
        if l > 1
    }

    def step(acc, _):
        expr = None
        for l in sorted(arrs, reverse=True):  # longest match first
            cond = F.array_contains(arrs[l], word.substr(acc["pos"], F.lit(l)))
            expr = (
                F.when(cond, F.lit(l)) if expr is None else expr.when(cond, F.lit(l))
            )
        adv = expr.otherwise(F.lit(1)) if expr is not None else F.lit(1)
        return F.when(acc["pos"] > F.length(word), acc).otherwise(
            F.struct(
                (acc["pos"] + adv).alias("pos"),
                (acc["n"] + 1).alias("n"),
            )
        )

    init = F.struct(F.lit(1).alias("pos"), F.lit(0).alias("n"))
    folded = F.aggregate(
        F.sequence(
            F.lit(1),
            F.greatest(F.least(F.length(word), F.lit(MAX_WORD_CHARS)), F.lit(1)),
        ),
        init,
        step,
    )
    return F.when(F.length(word) > MAX_WORD_CHARS, F.lit(1)).otherwise(
        folded["n"]
    )


def token_count_subword(
    docs: DataFrame,
    vocab: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Subword token counts under the frozen BPE vocabulary — the
    tokenizer-calibrated counterpart of ``token_count`` (round-14
    verdict "missing" item 4): budgets, packing, and selection measure
    compute in TRAINING-TOKENIZER tokens, and whitespace counts
    undercount them systematically.

    Returns (doc_id, n_words, n_subword_tokens) for EVERY input doc
    (zero-token docs -> 0/0 via an ``explode_outer`` marker row that
    aggregates through the per-doc sum — round-15, guide §2.4: the old
    shape left-joined a doc spine back on, a second corpus scan plus a
    corpus-wide shuffle join).

    Plan (100 TB): explode_outer to words -> DISTINCT words -> the
    greedy fold expression ONCE PER DISTINCT WORD (segmentation is a
    vocabulary-sized dimension, not a per-token cost — the Zipf mass
    of a corpus re-uses a tiny distinct-word set) -> LEFT-join the
    counts back (AQE picks broadcast while the distinct-word table
    fits; left, so a token-less doc's NULL-word marker row survives —
    ``count(word)``/the NULL-skipping sum land it on 0/0; tokens_sql
    never emits NULL elements, so the marker is unambiguous) ->
    one map-side-combined per-doc sum."""
    if vocab is None:
        vocab = frozen_subword()
    pieces = list(vocab["pieces"])
    spine = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    # pinned (lazy localCheckpoint): the exploded word list feeds BOTH
    # the distinct-word dimension and the join-back, and each consumer
    # would otherwise replay the corpus scan + tokenize + explode —
    # the ngram_jaccard_pairs inverted-index rule
    from .pinning import pin

    # key="doc_id": the pinned word list's partitioning survives the
    # checkpoint, so the per-doc aggregation downstream reuses it (§2.4)
    words = pin(
        ensure_parallelism(spine, key="doc_id").select(
            "doc_id", F.expr(f"explode_outer({tokens_sql('_t')})").alias("word")
        )
    )
    dw = (
        words.select("word")
        .filter(F.col("word").isNotNull())
        .distinct()
        .withColumn("_np", subword_segment_expr(F.col("word"), pieces))
    )
    return (
        words.join(dw, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("word").cast("long").alias("n_words"),
            F.coalesce(F.sum("_np"), F.lit(0)).cast("long").alias(
                "n_subword_tokens"
            ),
        )
        .select("doc_id", "n_words", "n_subword_tokens")
    )


def frozen_langid(path: str | None = None) -> dict:
    """The committed frozen language-ID classifier artifact
    (artifacts/langid.json, written by tools/train_langid.py — the
    CCNet trained-langid stage, Wenzek et al. 2020 §3.1, as a
    multinomial NB over char 3-grams, i.e. the linear-in-log-space
    family fastText reduces to). Same train/freeze/apply seam as
    ``frozen_lm``/``frozen_classifier``: per-(trigram, language)
    log-prob literals computed at TRAINING time, replayed verbatim by
    the DuckDB oracle. Loaded once per process (tiny, cached)."""
    return load_artifact(path, "langid.json")


def char_ngrams(s: Column, n: int) -> Column:
    """Character n-grams of a (pre-lowercased) string column —
    engine-portable: 1-based substring over an explicit index
    sequence. The length guard is mandatory on the Spark side because
    ``sequence(1, 0)`` counts DOWN (step auto-negates), not empty."""
    return F.when(
        F.length(s) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(s) - (n - 1)),
            lambda i: s.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def lang_id_trained(
    docs: DataFrame,
    model: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Trained language ID under the frozen char-ngram classifier —
    the CCNet langid stage (round-14 verdict item 3), upgrading the
    stopword-profile heuristic ``lang_id``: a stopword profile scores
    0 on any text that avoids the listed function words and the
    tie-break then hands the doc to an arbitrary language, while the
    char-ngram model scores EVERY trigram of the text. ``model`` is
    the artifact dict (default ``frozen_langid()``) with per-(trigram,
    language) log-probs, per-language priors, and per-language OOV
    floors, all computed at TRAINING time — neither engine does its
    own transcendental math on unshared inputs.

    Returns (doc_id, pred_lang, lang_score) for EVERY input document
    (a zero-trigram doc scores bare priors — via the explode_outer
    marker row, the round-15 quality_classifier convention: the old
    spine left-join re-scanned the corpus and shuffled it a second
    time just to restore docs the plain explode dropped):

        score_l    = prior_l + round(sum_g logp(g|l), 6)
        pred_lang  = argmax_l score_l   [ties -> lexicographic code,
                                         the lang_id convention]
        lang_score = round(max_l score_l, 6)

    OOV trigrams take the per-language floor (the smoothed unseen
    log-prob — the broadcast join's miss branch). Rounding happens
    ONCE per language on the fold-order-sensitive sum; adding the
    shared prior literal afterwards is IEEE-754 deterministic.

    Plan (100 TB): explode_outer char trigrams -> ONE broadcast hash
    join against the WIDE (term, w_<lang>...) weight table (one row
    per trigram, not per trigram-language pair — the language axis
    rides as columns so the corpus explodes once and aggregates once)
    -> one map-side-combined per-doc sum per language. The whole
    operator is a single corpus pass and a single shuffle (the doc_id
    aggregation); a zero-trigram doc's NULL-term marker row sums to
    exactly 0.0 per language (char_ngrams never emits NULL elements,
    so the marker is unambiguous) and the priors add after. The
    weight table is metadata-sized (<= max_ngrams rows)."""
    if model is None:
        model = frozen_langid()
    langs = list(model["langs"])
    n = int(model["n"])
    spine = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    rows = [
        (t, *[float(ws[l]) for l in langs])
        for t, ws in model["weights"].items()
    ]
    schema = "term string, " + ", ".join(f"_w_{l} double" for l in langs)
    weights = docs.sparkSession.createDataFrame(rows, schema)
    # key="doc_id": the per-doc score aggregation below is the seam's
    # next shuffle — keyed repartition makes it the only exchange (§2.4)
    ex = ensure_parallelism(spine, key="doc_id").select(
        "doc_id",
        F.explode_outer(char_ngrams(F.lower(F.col("_t")), n)).alias("term"),
    )
    summed = (
        ex.join(F.broadcast(weights), "term", "left")
        .groupBy("doc_id")
        .agg(
            *[
                F.round(
                    F.sum(
                        F.when(
                            F.col("term").isNull(), F.lit(0.0)
                        ).otherwise(
                            F.coalesce(
                                F.col(f"_w_{l}"),
                                F.lit(float(model["floors"][l])),
                            )
                        )
                    ),
                    6,
                ).alias(f"_s_{l}")
                for l in langs
            ]
        )
    )
    scores = {
        l: F.lit(float(model["priors"][l]))
        + F.coalesce(F.col(f"_s_{l}"), F.lit(0.0))
        for l in langs
    }
    # argmax chain: lang l wins iff it >= every LATER lang and every
    # earlier lang already lost — the standard first-tie-break CASE,
    # identical to the oracle's CASE WHEN chain
    pred = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for m in langs[i + 1 :]:
            c = scores[langs[i]] >= scores[m]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(langs[i])).otherwise(pred)
    return summed.select(
        "doc_id",
        pred.alias("pred_lang"),
        F.round(F.greatest(*scores.values()), 6).alias("lang_score"),
    )


def frozen_lm(path: str | None = None) -> dict:
    """The committed frozen unigram LM artifact (artifacts/lm.json,
    written by tools/train_lm.py — the CCNet-style reference model for
    perplexity quality filtering). Same train/freeze/apply seam as
    operators/vectors.py frozen_quantizer: the table is metadata-sized,
    trained offline on the seeded reference corpus, applied to any
    corpus at any sf, and its log-prob literals are replayed verbatim
    by the DuckDB oracle. Loaded once per process (tiny, cached)."""
    return load_artifact(path, "lm.json")


def lm_cross_entropy(
    docs: DataFrame,
    lm: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Per-document cross-entropy (and perplexity) under a frozen
    reference unigram LM — the CCNet quality signal (Wenzek et al.
    2020 rank web docs by reference-LM perplexity and keep the fluent
    tail; round-11 verdict item 4). ``lm`` is the artifact dict
    (default: ``frozen_lm()``), carrying per-token log-probs computed
    at TRAINING time — neither engine does its own transcendental math
    on unshared inputs, so the oracle replays the same literals.

    Returns (doc_id, n_tokens, xent, ppl) for every doc with >= 1
    token (empty/whitespace-only docs have no defined per-token
    entropy and emit no row):

        xent = -round(sum(logp), 6) / n_tokens   [nats/token]
        ppl  = round(exp(xent), 6)

    Rounding happens ONCE, on the fold-order-sensitive double sum (the
    bm25 parity convention) — and deliberately NOT on the division:
    dividing a 6-decimal value by a small integer lands systematically
    on half-ulp-of-6dp boundaries, where Spark's round (BigDecimal
    HALF_UP over the exact binary expansion) and DuckDB's (scaled
    double) tie-break differently — 10 of 50k docs flipped a 6th
    decimal at the sf1 parity run before this was removed. Identical
    rounded sums and integer counts make the quotient bit-identical by
    IEEE-754 division determinism, no second round needed. Gate
    queries compare xent, not ppl: ln is bit-identical across Spark
    (JVM) and DuckDB (libm) on this corpus but exp is not guaranteed
    to be, and xent is the same ranking.

    Plan (100 TB): explode -> broadcast hash join against the
    vocab-sized log-prob table (OOV misses coalesce to the pooled OOV
    log-prob) -> one partial-aggregating per-doc sum. The only
    shuffle is the doc_id aggregation; the vocab table is a literal
    broadcast (<= max_vocab rows), never a driver-side map literal
    scanned per token.

    ``carry_cols`` (round-15, guide §2.4): per-doc metadata columns
    (a language label, a domain) carried THROUGH the aggregation and
    returned after ``doc_id`` — grouped consumers (lm_quality_buckets,
    per-language budget selection) previously re-scanned the corpus
    and shuffle-joined the label back onto the scored frame; riding
    the groupBy key costs nothing (the map-side partial agg collapses
    rows per doc before the exchange) and removes that join outright.
    Each carried column must be CONSTANT per ``id_col`` value (it
    joins the grouping key — a doc with two label values would split
    into two score rows)."""
    if lm is None:
        lm = frozen_lm()
    vocab = docs.sparkSession.createDataFrame(
        list(lm["logp"].items()), "term string, _lp double"
    )
    oov = float(lm["oov_logp"])
    carries = list(carry_cols)
    # key=id_col: the per-doc aggregation below is the seam's next
    # shuffle; HashPartitioning(id_col) rides through the alias
    # (AliasAwareOutputPartitioning) and satisfies the groupBy's
    # ClusteredDistribution(doc_id, carries) — one exchange total (§2.4)
    ex = ensure_parallelism(docs, key=id_col).select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in carries],
        F.expr(f"explode({tokens_sql(f'`{text_col}`')})").alias("term"),
    )
    summed = (
        ex.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id", *carries)
        .agg(
            F.round(F.sum(F.coalesce(F.col("_lp"), F.lit(oov))), 6).alias(
                "_ls"
            ),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    xent = -F.col("_ls") / F.col("n_tokens")
    return summed.select(
        "doc_id",
        *carries,
        "n_tokens",
        xent.alias("xent"),
        F.round(F.exp(xent), 6).alias("ppl"),
    )


def lm_quality_buckets(
    docs: DataFrame,
    lm: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    percentile_mode: str = "exact",
    accuracy: int = 10_000,
    thresholds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing (Wenzek et al. 2020
    §4.3): per LANGUAGE, rank documents by reference-LM perplexity and
    split at the perplexity TERCILES — "head" is the fluent third the
    paper trains on, "tail" the noisiest. This is the paper's actual
    mechanism (per-language thresholds, not a global cut: a hard
    language's absolute perplexities would otherwise push its entire
    corpus into "tail").

    Returns one row per scoreable doc:
    (doc_id, <group_col>, n_tokens, xent, bucket) with bucket in
    ('head', 'middle', 'tail') — xent <= t1 -> head, <= t2 -> middle,
    else tail, where t1/t2 are the group's interpolated 1/3 and 2/3
    xent percentiles rounded once to 6dp (the agg_percentile parity
    convention: Spark ``percentile`` and DuckDB ``quantile_cont``
    share the linear-interpolation definition, and comparing xent
    against a 6dp-rounded shared threshold is boundary-deterministic
    because the xent values themselves are bit-identical).

    Plan (100 TB): NO global window and NO per-group single task — the
    tercile thresholds are ONE aggregate per group (a languages-sized
    frame), broadcast back onto the scored corpus as a hash join;
    bucketing is then a scan-side CASE. THREE threshold modes (round-13
    verdict item 1 — exact percentile buffers every group value in one
    aggregation buffer, a per-language memory funnel at corpus scale):

    - ``percentile_mode="exact"`` (default, the oracle-parity form):
      Spark ``percentile`` / DuckDB ``quantile_cont`` — group-sized
      aggregation buffer, right up to the gate/report scales it's
      meant for.
    - ``percentile_mode="approx"``: ``approx_percentile`` — a
      mergeable, partial-aggregable sketch whose state is O(accuracy)
      PER TASK regardless of group size (guaranteed rank error <=
      group_size/accuracy), the 100-TB route. Off the oracle path —
      sketch internals aren't cross-engine replayable.
    - ``thresholds={lang: (t1, t2)}``: FROZEN thresholds through the
      artifact seam (the lm.json/quantizer.json pattern — CCNet itself
      computes thresholds once per snapshot and applies them to every
      shard): no threshold aggregate at all, the corpus is scanned
      once and bucketed against broadcast literals. Compute once with
      either mode, freeze, replay everywhere — bit-exact oracle
      replayable. Groups absent from the dict drop out (the bucket
      join is inner on the group key, same as a group absent from the
      corpus in aggregate modes).
    """
    from .pinning import pin

    if percentile_mode not in ("exact", "approx"):
        raise ValueError(
            f"percentile_mode must be 'exact' or 'approx', got "
            f"{percentile_mode!r}"
        )
    # the group label rides lm_cross_entropy's aggregation key
    # (round-15, guide §2.4) — the old shape re-scanned the corpus and
    # shuffle-joined the label back onto the scored frame
    scored = lm_cross_entropy(
        docs, lm, id_col, text_col, carry_cols=[group_col]
    ).withColumnRenamed(group_col, "_g")
    if thresholds is not None:
        spark = docs.sparkSession
        th = spark.createDataFrame(
            [(g, float(t1), float(t2)) for g, (t1, t2) in sorted(thresholds.items())],
            "_g string, _t1 double, _t2 double",
        )
    else:
        # both the threshold aggregate and the bucket join consume the
        # scored frame — unpinned, the explode->vocab-join->sum
        # pipeline would run twice
        scored = pin(scored)
        pct = (
            f"percentile(xent, {1/3!r})"
            if percentile_mode == "exact"
            else f"approx_percentile(xent, {1/3!r}, {int(accuracy)})"
        )
        pct2 = (
            f"percentile(xent, {2/3!r})"
            if percentile_mode == "exact"
            else f"approx_percentile(xent, {2/3!r}, {int(accuracy)})"
        )
        th = scored.groupBy("_g").agg(
            F.round(F.expr(pct), 6).alias("_t1"),
            F.round(F.expr(pct2), 6).alias("_t2"),
        )
    # null-safe equi-join (<=>): a NULL group (e.g. docs a language-ID
    # pass failed on) forms its own threshold group in the aggregate
    # modes, and a plain inner join on "_g" would silently drop every
    # such doc (NULL never equals NULL) — violating the one-row-per-
    # scoreable-doc contract. Still a broadcast HASH join. In the
    # frozen-thresholds mode NULL groups drop like any group absent
    # from the dict (documented).
    th = th.withColumnRenamed("_g", "_gt")
    return (
        scored.join(F.broadcast(th), scored["_g"].eqNullSafe(th["_gt"]))
        .select(
            "doc_id",
            F.col("_g").alias(group_col),
            "n_tokens",
            "xent",
            F.when(F.col("xent") <= F.col("_t1"), F.lit("head"))
            .when(F.col("xent") <= F.col("_t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def lm_cross_entropy_bigram(
    docs: DataFrame,
    lm: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under the frozen CONDITIONAL-BIGRAM
    tier of the reference LM — the word-order signal the unigram tier
    cannot see (CCNet's KenLM is a 5-gram for the same reason; the
    bigram is the same train/freeze/apply seam one order up). Token i
    scores log p(t_i | t_{i-1}) from the frozen pair table; a pair
    absent from the table scores the per-context unseen mass
    (also frozen); a context absent from the table — or a document's
    first token — falls back to the unigram tier (incl. its pooled OOV
    symbol). Same output/rounding contract as ``lm_cross_entropy``:
    (doc_id, n_tokens, xent, ppl), one round on the fold-order-
    sensitive sum, the division left unrounded (bit-identical by
    IEEE-754 given identical rounded sums — see the boundary-tie
    lesson in lm_cross_entropy's docstring).

    Plan (100 TB): one narrow pass builds (token, prev-token) pairs
    with an indexed transform (no self-join, no window), then
    THREE broadcast hash joins against metadata-sized frozen tables
    (unigram <= max_vocab, contexts <= max_vocab, pairs <=
    max_bigrams) and one partial-aggregating per-doc sum — the only
    shuffle is the doc_id aggregation."""
    if lm is None:
        lm = frozen_lm()
    ss = docs.sparkSession
    vocab = ss.createDataFrame(
        list(lm["logp"].items()), "t string, _ulp double"
    )
    ctx = ss.createDataFrame(
        list(lm["ctx_unseen_logp"].items()), "s string, _cu double"
    )
    bi = ss.createDataFrame(
        [(*k.split(" ", 1), v) for k, v in lm["bigram_logp"].items()],
        "s string, t string, _blp double",
    )
    oov = float(lm["oov_logp"])
    # token i paired with token i-1 (NULL for the first); no tokens, no pairs
    bigrams = let_sql(
        tokens_sql(f"`{text_col}`"),
        "toks",
        "transform(toks, (t, i) -> "
        "struct(t AS t, CASE WHEN i > 0 THEN toks[i - 1] END AS s))",
    )
    # key=id_col: the per-doc sum below is the seam's next shuffle
    # (the three broadcast joins preserve streamed-side partitioning),
    # so the keyed repartition is the only exchange (§2.4)
    pairs = ensure_parallelism(docs, key=id_col).selectExpr(
        f"`{id_col}` AS doc_id", f"explode({bigrams}) AS _p"
    ).selectExpr("doc_id", "_p.t AS t", "_p.s AS s")
    scored = (
        pairs.join(F.broadcast(vocab), "t", "left")
        .join(F.broadcast(ctx), "s", "left")
        .join(F.broadcast(bi), ["s", "t"], "left")
        .select(
            "doc_id",
            F.when(
                F.col("_cu").isNull(),  # first token or unknown context
                F.coalesce(F.col("_ulp"), F.lit(oov)),
            )
            .otherwise(F.coalesce(F.col("_blp"), F.col("_cu")))
            .alias("_lp"),
        )
    )
    summed = scored.groupBy("doc_id").agg(
        F.round(F.sum("_lp"), 6).alias("_ls"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    xent = -F.col("_ls") / F.col("n_tokens")
    return summed.select(
        "doc_id",
        "n_tokens",
        xent.alias("xent"),
        F.round(F.exp(xent), 6).alias("ppl"),
    )


# RE2-portable terminal-punctuation test: C4 keeps only lines ending in
# a period, exclamation mark, question mark, or closing quote
# (Raffel et al. 2020 §2.2).
C4_TERMINAL_RE = '[.!?"]$'
# Portable whitespace class — see normalize_text's note on \s disparity
# between Java regex and RE2.
_WS_CLASS = r"[ \t\x0B\f\r]+"


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2) — the one
    standard pre-dedup cleaning stage web pipelines apply BEFORE any
    document-level quality scoring: split on newlines, keep only lines
    that (1) end in terminal punctuation, (2) carry at least
    ``min_words`` words, (3) don't mention "javascript" (the classic
    scraped-boilerplate tell); reassemble the kept lines. Page-level
    C4 rules ride along as flags: documents containing "lorem ipsum"
    or a ``{`` (code tell) are marked drop, as are documents with
    fewer than ``min_kept_lines`` surviving lines (the paper's
    "at least 3 sentences" rule).

    Returns one audit row per input document (nothing is filtered
    away — the keep/drop decision is a column, like quality_filter's):
    (doc_id, n_lines, n_kept, n_drop_punct, n_drop_short,
    n_drop_marker, has_lorem_ipsum, has_brace, keep, text_clean).
    Each dropped line is attributed to exactly ONE rule, first-failing
    in the order punctuation -> length -> marker, so the three drop
    counts + n_kept always sum to n_lines.

    Scale shape: narrow per-row array work only — no shuffle, no UDF;
    the split/trim pipeline is let-bound so the four per-rule array
    passes share ONE evaluation of the trimmed-lines array (the
    quality_filter pushdown lesson), and all outputs are fields of one
    struct so a pushed ``keep`` predicate inlines exactly one split.
    Fully SQL-expressible -> real DuckDB oracle (plans/queries.py
    c4_line_filter)."""
    t = f"`{text_col}`"
    eol, nl = sql_string("\r?\n"), sql_string("\n")
    punct = f"s RLIKE {sql_string(C4_TERMINAL_RE)}"
    words = (
        f"size(filter(split(s, {sql_string(_WS_CLASS)}), w -> w != '')) "
        f">= {int(min_words)}"
    )
    marker = "instr(lower(s), 'javascript') = 0"
    kept = f"filter(_lines, s -> ({punct}) AND ({words}) AND ({marker}))"
    has_lorem = f"instr(lower({t}), 'lorem ipsum') > 0"
    has_brace = f"instr({t}, '{{') > 0"
    # the body also reads the text column, so the lines variable carries
    # a name no column is expected to have
    audit = (
        "struct(CAST(size(_lines) AS BIGINT) AS n_lines, "
        f"CAST(size({kept}) AS BIGINT) AS n_kept, "
        f"CAST(size(filter(_lines, s -> NOT ({punct}))) AS BIGINT) AS n_drop_punct, "
        f"CAST(size(filter(_lines, s -> ({punct}) AND NOT ({words}))) AS BIGINT) "
        "AS n_drop_short, "
        f"CAST(size(filter(_lines, s -> ({punct}) AND ({words}) AND NOT ({marker}))) "
        "AS BIGINT) AS n_drop_marker, "
        f"{has_lorem} AS has_lorem_ipsum, {has_brace} AS has_brace, "
        f"size({kept}) >= {int(min_kept_lines)} AND NOT ({has_lorem}) "
        f"AND NOT ({has_brace}) AS keep, "
        f"array_join({kept}, {nl}) AS text_clean)"
    )
    # split on \r?\n, not \n: a CRLF document would otherwise keep a
    # stray \r on every line — Java's rlike '$' matches BEFORE a final
    # \r (line-terminator semantics) while RE2/DuckDB's '$' does not,
    # so the terminal-punctuation rule would diverge between the two
    # engines, and text_clean would carry \r bytes (trim strips
    # spaces only)
    lines = f"transform(split({t}, {eol}), s -> trim(s))"
    staged = df.selectExpr(
        f"`{id_col}` AS doc_id", f"{let_sql(lines, '_lines', audit)} AS _m"
    )
    cols = [
        "n_lines",
        "n_kept",
        "n_drop_punct",
        "n_drop_short",
        "n_drop_marker",
        "has_lorem_ipsum",
        "has_brace",
        "keep",
        "text_clean",
    ]
    return staged.selectExpr("doc_id", *[f"_m.{c} AS {c}" for c in cols])
