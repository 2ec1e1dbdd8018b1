"""Lexical retrieval operators: TF-IDF, BM25, and rank fusion.

The reference is a RAG ingestion pipeline whose only retrieval primitive
is dense top-k inner-product search over sentence embeddings
(/root/reference/src/embedding_engine.py:24-30). A production RAG corpus
also needs the *lexical* half of hybrid retrieval — TF-IDF term
weighting, BM25 scoring, and a fusion step — so this module adds them as
first-class relational operators over the `documents` table, each with a
DuckDB-oracle twin in plans/queries.py.

Scale design (100 TB corpus):

- Tokenize/explode is narrow and scan-side; the per-(doc, term)
  term-frequency aggregation is ONE shuffle with map-side partial
  aggregation (hash agg on a key whose cardinality is bounded by total
  token count, heavily combined map-side because documents repeat
  terms).
- BM25 filters the exploded terms to the broadcast query-term set
  BEFORE any shuffle, so corpus-wide work after the scan is
  proportional to matching postings only — the classic inverted-index
  access path expressed relationally. Document-frequency and
  average-doc-length corpus statistics reduce to scalars/tiny frames
  (one narrow agg each) and re-enter via broadcast joins.
- TF-IDF's document-frequency table shuffles on `term` (unavoidable —
  it IS the inverted index); the per-doc top-k uses row_number over a
  (doc_id)-partitioned window, which Spark executes with partial
  WindowGroupLimit pushdown, never materializing full per-doc term
  lists on one node.
- Global top-k results use orderBy+limit, which Catalyst executes as
  TakeOrderedAndProject (per-partition partial top-k, no full sort).

All arithmetic is JVM-side column expressions; fold-order-sensitive
double sums are rounded to 6 decimals on both engines per the parity
rules in plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import tokens_sql
from ..session import ensure_parallelism
from .relational import rank_small

BM25_K1 = 1.2
BM25_B = 0.75


def doc_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf, dl): per-document term frequencies plus the
    document length in tokens. One explode (narrow) + one hash
    aggregation on (doc_id, term) with map-side combine.

    The token array is staged in its own projection: dl and the explode
    both consume it, and building both from an inline tokens_sql(text)
    evaluates the tokenizer twice per row (CollapseProject refuses to
    inline the staged non-cheap multi-referenced alias, so the staging
    sticks — no filter reaches below the explode here)."""
    # deliberately NOT keyed (round-15): hash(doc_id) would satisfy the
    # tf agg's clustering and drop its exchange, but this aggregate's
    # output is ~one row per (doc, term) — postings-sized — so the
    # removed exchange was the one place the partial agg rebalanced the
    # pipeline; measured at ~sf1 the keyed form ran 2.4 -> 3.8 s SLOWER
    # (sf0.1 was a wash). Keying only pays where the aggregate
    # collapses to ~one row per key (the per-doc scorers).
    staged = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.expr(tokens_sql(f"`{text_col}`")).alias("_tk"),
    )
    exploded = staged.select(
        "doc_id",
        F.size("_tk").cast("long").alias("dl"),
        F.explode("_tk").alias("term"),
    )
    return exploded.groupBy("doc_id", "dl", "term").agg(
        F.count("*").cast("long").alias("tf")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF terms: tfidf = tf * ln(N / df).

    Returns (doc_id, term, tf, tfidf, term_rank), term_rank 1..k by
    tfidf desc then term asc (deterministic). The document-frequency
    side is the inverted-index aggregation (shuffle on term); N is a
    scalar from one narrow count.

    Plan: the tf side is scan → explode → tf hash-agg; the
    document-frequency side is its OWN LIGHT lineage — per-doc
    ``array_distinct`` (row-local), explode, partial-aggregating
    ``groupBy(term).count`` — joined back on term. Round-10 de-skew:
    df was previously a window over ``partitionBy(term)``, which (a)
    welded a stopword's entire postings list onto one task (window
    partitions cannot be split; AQE CAN split the join that replaced
    it) and (b) left everything downstream of the window running at
    distinct-term parallelism. The alternative single-pass groupBy+
    self-join would duplicate the whole scan→explode→tf subtree; the
    light lineage re-reads the corpus but skips the tf aggregation —
    the same price/shape as duplicated_spans' count side. The rank
    filter is a WindowGroupLimit, so only k rows per doc survive the
    final per-doc window (doc-bounded partitions, no skew hazard).
    """
    terms = doc_terms(docs, id_col, text_col).select("doc_id", "term", "tf")
    # df(t) = number of DISTINCT docs containing t (count_distinct, not
    # a row count — duplicate doc_id rows must not inflate df, matching
    # the oracle's doc_id-grouped frame); per-doc array_distinct first
    # so each doc contributes each term once to the partial aggregate.
    # Vocabulary-sized output, so AQE broadcasts it when small.
    df_small = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.expr(
                f"explode(array_distinct({tokens_sql(f'`{text_col}`')}))"
            ).alias("term"),
        )
        .groupBy("term")
        .agg(F.count_distinct("doc_id").cast("long").alias("df_t"))
    )
    n_docs = docs.select(
        F.count("*").cast("long").alias("n_docs")
    )
    scored = (
        terms.join(df_small, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df_t")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    topk: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranking of `docs` against a bag of query terms (Robertson &
    Spärck Jones probabilistic model, the Lucene-style "+1" idf variant
    so idf stays positive):

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        s(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
        score(d) = sum over query terms t present in d

    Returns (doc_id, score, rank) for the top `topk` documents, rank by
    score desc then doc_id asc.

    Plan shape (round-15, guide §8 "decide with small rows"): ONE
    tokenize pass builds a pinned per-doc proxy (doc_id, dl,
    matched-tokens-only array) — the only corpus-sized work; N/avgdl,
    the tf aggregation, and df(t) are all derived from that proxy, so
    the corpus is scanned and tokenized exactly once (the previous
    shape paid three full tokenize passes: tf side, df side, stats
    side). The exploded rows are filtered to query-term matches
    BEFORE the explode even emits them (the array is pre-filtered),
    so everything past the proxy is sized by matching postings. df(t)
    is count_distinct(doc_id) over the pinned tf postings — exactly
    the oracle's ``dft ... FROM tf`` derivation — and broadcast-joins
    back at <= |query_terms| rows. Round-10 de-skew stands: df is a
    partial-aggregating groupBy, never a partitionBy(term) window
    (a stopword query term would weld its whole postings list onto
    one task and cap downstream parallelism at |query_terms|).
    The final top-k is TakeOrderedAndProject.
    """
    from .pinning import pin

    # lowercase the query terms: corpus tokens come from
    # functions.hashing.tokens_sql, which lowercases — a cased query term
    # ('Apple') would otherwise silently contribute zero matches
    qset = F.array(*[F.lit(t) for t in sorted({t.lower() for t in query_terms})])
    # token array staged once for dl + the match filter (see doc_terms);
    # the per-doc proxy is pinned because THREE consumers (stats, tf,
    # and through tf the df side) would each otherwise replay the full
    # tokenize pass. Proxy rows are (id, long, matched-terms-only
    # array) — a few bytes per doc at any corpus scale.
    # key=id_col: the pinned proxy's partitioning survives the
    # checkpoint (LogicalRDD keeps outputPartitioning), so the tf
    # aggregation downstream needs no exchange of its own (§2.4)
    staged = ensure_parallelism(docs, key=id_col).select(
        F.col(id_col).alias("doc_id"),
        F.expr(tokens_sql(f"`{text_col}`")).alias("_tk"),
    )
    per_doc = pin(
        staged.select(
            "doc_id",
            F.size("_tk").cast("long").alias("dl"),
            F.filter("_tk", lambda t: F.array_contains(qset, t)).alias("_mt"),
        )
    )
    tf = pin(
        per_doc.select("doc_id", "dl", F.explode("_mt").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # df(t) over the pinned postings: tf rows are distinct per
    # (doc_id, term) by construction, count_distinct guards the
    # duplicate-doc_id edge case exactly as the old per-doc
    # array_intersect lineage did. <= |query_terms| output rows.
    df_small = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("long").alias("df_t")
    )
    with_df = tf.join(F.broadcast(df_small), "term")
    # N and avgdl from the pinned proxy: sum(dl) is the same integer
    # sum the old sum(size(tokens(...))) produced, cast after — the
    # division is bit-identical
    stats = per_doc.select(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    per_term = (
        with_df
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.round(F.sum("s"), 6).alias("score")
    )
    # TakeOrdered top-k, then rank the <= topk survivors via the
    # window-free sorted-array rank (no single-partition WindowExec,
    # and rank_small consumes its input once — no pin, no lineage
    # duplication); the final orderBy restores the API's rank-ordered
    # rows (k-row sort)
    return rank_small(
        scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(topk),
        [("score", "desc"), ("doc_id", "asc")],
    ).orderBy("rank")


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR '09):
    fused(d) = sum over input rankings r of 1 / (k + rank_r(d)), ranks
    missing from a list contribute nothing. The standard hybrid
    (BM25 + dense kNN) combiner — rank-based, so the two score scales
    never need calibration.

    Each input is (id, rank, ...); output is (doc_id, rrf, rank) top
    `topk` by fused score desc then id asc. Inputs are top-k-sized
    (tiny), so the union + groupBy is driver-negligible at any corpus
    scale — fusion cost depends on k, not on the corpus.
    """
    if not rankings:
        raise ValueError(
            "rrf_fuse: rankings must contain at least one ranked frame"
        )
    contribs = [
        r.select(
            F.col(id_col).alias("doc_id"),
            (1.0 / (F.lit(k) + F.col(rank_col))).alias("c"),
        )
        for r in rankings
    ]
    unioned = contribs[0]
    for c in contribs[1:]:
        unioned = unioned.unionByName(c)
    fused = unioned.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("rrf"))
    # window-free sorted-array rank of the <= topk post-limit rows,
    # returned in rank order as the docstring promises; each input
    # ranking and the fused frame are consumed exactly once, so the
    # full hybrid plan needs no pins (round-9 diet: the old self-join
    # rank compounded to 24 recorded Exchanges here, now 7)
    return rank_small(
        fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(topk),
        [("rrf", "desc"), ("doc_id", "asc")],
    ).orderBy("rank")
