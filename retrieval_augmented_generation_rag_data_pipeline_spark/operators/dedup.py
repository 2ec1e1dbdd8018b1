"""Deduplication operators for the LLM-training-data surface.

Exact hash dedup, MinHash+LSH, SimHash, and n-gram Jaccard — all built
on the portable md5-derived hash (functions.hashing) so every one is
DuckDB-oracle-checkable. Each returns a DataFrame (never collects).

A document's shingle set has ONE form here: the 60-bit shingle-hash
array ``_shingle_hashes`` stages (``hashing.shingle_hashes_sql``).
MinHash sketches it, ``ngram_jaccard_pairs`` explodes its distinct
hashes into the inverted index, and ``verify_pairs_jaccard`` — the one
exact-Jaccard verify, which ``dedup_corpus``'s ``verify_jaccard`` also
calls — intersects its distinct hashes (8 bytes per shingle, where the
shingle strings cost k words each). Hash-Jaccard equals string-Jaccard
unless two distinct shingles collide in 60 bits.

Algorithms follow the published formulations: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
1997), banded LSH for candidate generation (Leskovec/Rajaraman/Ullman,
"Mining of Massive Datasets" ch. 3), and SimHash fingerprints
(Charikar, "Similarity estimation techniques from rounding algorithms",
2002) — the same family used for web-scale near-dedup in Gyawali et al.
and the C4/RefinedWeb data pipelines.

Scale notes (100 TB):
- exact dedup: one hash-groupBy shuffle keyed on the digest;
- MinHash LSH: signatures computed scan-side (narrow), the only shuffle
  is the band-bucket self-join (key = (band_idx, band_signature));
- SimHash: narrow per-row compute, group by fingerprint;
- n-gram Jaccard: shingle-hash explode + equi-join on the hash — the
  classic "inverted index join"; skew on stop-shingles is the risk, so
  callers should cap shingle document frequency (df_cap) like any
  inverted-index system.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.binding import let_sql
from ..functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    NUM_PERM,
    hash_array_sql,
    hash_pair_array_sql,
    minhash_signature_sql,
    shingle_hashes_sql,
    simhash16_sql,
    tokens_sql,
    word_shingles_sql,
)
from ..session import ensure_parallelism
from .joins import sql_string


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate grouping by content digest.

    Returns (doc_id, canonical_id, group_size): every doc maps to the
    lowest id sharing its md5; group_size = copies of that content.

    Scale (round-10 de-skew, same hazard family as duplicated_spans):
    the per-digest min/count was a window over ``partitionBy(_digest)``
    — on a corpus where one boilerplate page is 10% of all docs, that
    partition is 10% of the corpus WELDED to one task (windows cannot
    be split). Now a ``groupBy(_digest)`` (map-side partial min/count:
    a universal digest reaches its reducer as one row per upstream
    task) + a ``hot_salted_count_join`` back to the rows — hot digests
    (group_size >= threshold) spread across n_salts reducers
    DETERMINISTICALLY. Salting rather than trusting AQE because the
    hot partition is row-skewed but not byte-skewed (a constant digest
    compresses away; measured in tools/scale_probe.py ``exact_skew``:
    the 10%-identical partition compressed below the median and AQE
    never split it). Null-safe keys because md5(NULL) is NULL and NULL
    texts must group together (matching both the old window semantics
    and the oracle's IS NOT DISTINCT FROM). The digest lineage is
    computed twice (agg side + probe side) — a narrow scan+md5,
    cheaper at scale than one hot task.
    """
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    d, groups = _digest_groups(docs)
    return _digest_join(d, groups).select("doc_id", "canonical_id", "group_size")


def _digest_groups(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The exact-digest step shared by ``dedup_exact`` and
    ``dedup_corpus_edges``: the (doc_id, _digest) rows of a (doc_id,
    text) frame and their per-digest (_digest, canonical_id,
    group_size) aggregate. A caller filters the aggregate (the build
    side) before ``_digest_join``."""
    d = docs.select("doc_id", F.md5("text").alias("_digest"))
    groups = d.groupBy("_digest").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").cast("long").alias("group_size"),
    )
    return d, groups


def _digest_join(d: DataFrame, groups: DataFrame) -> DataFrame:
    """Digest rows joined back to their group on the null-safe digest,
    hot digests salted (see ``dedup_exact``)."""
    from .joins import hot_salted_count_join

    return hot_salted_count_join(
        d,
        groups,
        key="_digest",
        count_col="group_size",
        salt_src="doc_id",
        null_safe=True,
    )


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc_id, _h) — shingle-hash array staged in its OWN projection:
    the package's one per-document shingle set (MinHash, the n-gram
    inverted index and the Jaccard verify all start here).

    The tokenize -> shingle -> md5 pipeline is the expensive part of every
    sketch below; inlining it into each of the NUM_PERM signature slots
    makes Catalyst duplicate it 16x (CollapseProject only merges cheap
    expressions, but building the whole column in one select pays the
    16x up front). Staging it here means one evaluation per row, and the
    downstream permutations are cheap modular math over a column ref.

    Emitted as ONE SQL string (round 16): built as Column trees this
    chain was ~200 py4j round trips, paid per construction by every
    sketch query; the hashing ``*_sql`` builders parse it once.
    """
    df = ensure_parallelism(df)
    return df.selectExpr(
        f"`{id_col}` AS doc_id",
        shingle_hashes_sql(f"`{text_col}`", k) + " AS _h",
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(doc_id, mh_0..mh_{NUM_PERM-1}) MinHash signature over k-word shingles."""
    sig = minhash_signature_sql("_h")
    return _shingle_hashes(df, id_col, text_col, k).selectExpr(
        "doc_id", *[f"{sig}[{i}] AS mh_{i}" for i in range(NUM_PERM)]
    )


def band_key_sql(sig_sql: str, band: int) -> str:
    """SQL string for one band's LSH key over a staged signature column
    — the single definition shared by minhash_band_keys (exploded rows)
    and text.decontaminate_fuzzy's per-row key arrays, so the two can
    never band differently. A string (not a Column) so callers
    composing whole projections pay one parse, not one py4j round trip
    per node (round 16)."""
    items = ", ".join(
        f"CAST({sig_sql}[{band * LSH_ROWS + r}] AS STRING)"
        for r in range(LSH_ROWS)
    )
    return f"concat_ws(':', {items})"


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(doc_id, band, key) LSH band keys: the tokenize -> k-shingle ->
    md5 -> NUM_PERM MinHash -> LSH_BANDS band-signature chain, shared
    by lsh_candidate_pairs (self-collision pairing) and
    text.decontaminate_fuzzy (bipartite collision vs a benchmark) so
    the two can never band differently.

    Docs shorter than k words have no shingles -> identical empty
    signatures; at scale they'd all collapse into one quadratic
    bucket. They can't be meaningfully MinHash-matched, so they emit
    NO band rows (exact dedup handles verbatim-identical short docs).

    The exclusion is NOT a .filter(): a filter on size(_h) gets
    predicate-pushed below the ensure_parallelism repartition, so the
    whole tokenize->shingle->md5 pipeline would be re-evaluated on the
    raw (often single-partition) input — measured 4x slower at sf0.1.
    Instead the band array is emptied for shingle-less docs and the
    explode drops them, which nothing can push down."""
    band_arr = "array(" + ", ".join(
        f"named_struct('band', {b}, 'key', {band_key_sql('_sig', b)})"
        for b in range(LSH_BANDS)
    ) + ")"
    empty = "CAST(array() AS array<struct<band:int,key:string>>)"
    return (
        _shingle_hashes(df, id_col, text_col, k)
        .selectExpr(
            "doc_id",
            "(size(_h) > 0) AS _ok",
            f"{minhash_signature_sql('_h')} AS _sig",
        )
        .selectExpr(
            "doc_id",
            f"explode(CASE WHEN _ok THEN {band_arr} ELSE {empty} END) AS bk",
        )
        .selectExpr("doc_id", "bk.band AS band", "bk.key AS key")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bucket_size: int | None = None,
    dedupe_pairs: bool = True,
) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs (doc_a < doc_b, n_bands).

    Bands the NUM_PERM signature into LSH_BANDS bands of LSH_ROWS; docs
    colliding in >= 1 band become a candidate pair. Instead of a
    band-key self-join (which evaluates the signature pipeline once per
    join side), docs are grouped by (band, key) and pairs expanded
    inside each bucket — one signature evaluation, one shuffle keyed on
    the band signature, no cross join.

    ``max_bucket_size`` drops buckets larger than the cap before pair
    expansion (None = unlimited, keeps the oracle exact). A bucket of
    size m emits m(m-1)/2 pairs, so one degenerate template/boilerplate
    bucket can dominate the whole job at scale — capping is standard
    inverted-index hygiene; near-identical docs that large share plenty
    of other buckets or are caught by exact dedup.

    ``dedupe_pairs=False`` (round-15, guide §2.4) skips the pair-level
    ``groupBy(doc_a, doc_b)`` — a whole extra shuffle of the pair
    stream — and returns the RAW per-band collisions (doc_a, doc_b)
    WITHOUT ``n_bands``: a pair colliding in b bands appears b times
    (b <= LSH_BANDS). For consumers that are invariant to duplicate
    edges — the transitive closure in ``dedup_corpus`` /
    ``dedup_clusters`` takes a min over neighbors — the dedup shuffle
    is pure overhead at any scale. Keep the default wherever pairs are
    THE result or feed per-pair work (verify_pairs_jaccard scores each
    row it is given).
    """
    bands = minhash_band_keys(df, id_col, text_col, k)
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket_size)
    pairs = (
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), "
        "y -> named_struct('doc_a', x, 'doc_b', y))))"
    )
    exploded = buckets.selectExpr(f"explode({pairs}) AS p")
    if not dedupe_pairs:
        return exploded.select(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
    return (
        exploded
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) 16-bit SimHash over token hashes."""
    hashed = ensure_parallelism(df).selectExpr(
        f"`{id_col}` AS doc_id",
        f"{hash_array_sql(tokens_sql(f'`{text_col}`'))} AS _h",
    )
    return hashed.selectExpr("doc_id", f"{simhash16_sql('_h')} AS simhash")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index equi-join.

    Returns (doc_a, doc_b, jaccard) for every pair sharing >= 1 shingle.
    ``df_cap`` drops shingles appearing in more than df_cap docs (skew /
    stop-shingle control — essential at scale, off by default so the
    oracle stays simple).

    The inverted index is the (doc_id, _h) postings of each doc's
    DISTINCT shingle hashes — ``_shingle_hashes``' array, exploded —
    so the pairs score the same hash sets ``verify_pairs_jaccard`` does.
    """
    # The inverted index is pinned (lazy localCheckpoint): it feeds BOTH
    # sides of the pair self-join (plus the optional hot-shingle cap),
    # and each consumer would otherwise replay the whole tokenize ->
    # shingle -> md5 pipeline over the corpus. Materializing the
    # (doc_id, hash) postings once is exactly what "building an inverted
    # index" means; per-doc sizes derive from it (one count per doc —
    # the hashes are distinct, so rows per doc == n_sh) instead of a
    # separate pass. Zero-shingle docs drop out of sizes, which is
    # harmless: they can never appear in a candidate pair.
    from .pinning import pin

    inv = pin(
        _shingle_hashes(df, id_col, text_col, k).selectExpr(
            "doc_id", "explode(array_distinct(_h)) AS _h"
        )
    )
    if df_cap is not None:
        hot = inv.groupBy("_h").count().filter(F.col("count") > df_cap).select("_h")
        inv = inv.join(F.broadcast(hot), "_h", "left_anti")
    # sizes AFTER the cap: with df_cap the similarity is the jaccard of
    # the CAPPED shingle space (both |A∩B| and |A|,|B| exclude hot
    # shingles), a self-consistent value — sizes from the uncapped index
    # against a capped intersection would score two identical
    # boilerplate-heavy docs far below 1.0, defeating the exact
    # template-dup case df_cap exists for
    sizes = inv.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, (F.col("a._h") == F.col("b._h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("_inter"))
    )
    # sizes has corpus cardinality — never force-broadcast it (billions
    # of docs at scale); AQE broadcasts when it actually fits
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("_inter")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Re-score candidate pairs with their EXACT word-shingle Jaccard —
    the per-pair rerank that turns any sketch's candidates (LSH bands,
    SimHash radius, embedding buckets) into measured precision instead
    of an assumption. The package's one shingle-set Jaccard verify:
    ``dedup_corpus``'s ``verify_jaccard`` calls it too.

    ``pairs`` must carry ``doc_a``/``doc_b`` id columns (extra columns
    pass through); ``docs`` provides the texts. Adds ``jaccard`` (the
    raw double — callers comparing against a DuckDB oracle should NOT
    round it: the count/size division is bit-identical IEEE on both
    engines, where round() can straddle a half-up tie like 1/128) and
    ``is_dup`` (jaccard >= threshold, int).

    The shingle sets are the DISTINCT 60-bit shingle hashes
    (``array_distinct`` of ``_shingle_hashes``' array), not the shingle
    strings: the score equals the string-set Jaccard unless two
    distinct shingles of a pair collide in 60 bits, and the pinned
    frame holds 8 bytes per distinct shingle where strings hold k
    words.

    INPUT CONTRACT: every pair id must exist in ``docs``, and at least
    one doc of each pair must yield >= 1 shingle (text of >= k words).
    Pairs from ``lsh_candidate_pairs`` satisfy both by construction, but
    this is a public operator — arbitrary caller pairs with a missing id
    or two shingle-less docs (a 0/0 jaccard) fail the job loudly via an
    ``assert_true`` folded into ``jaccard`` (left joins, so a missing
    id reaches the guard instead of being silently inner-joined away).
    CAVEAT — read this before relying on the guard: it fires only when
    ``jaccard`` or ``is_dup`` is actually consumed; an action that
    prunes BOTH columns (e.g. ``select("doc_a").count()``) never
    evaluates it and bad pairs pass silently.

    Scale: two hash equi-joins against the per-doc shingle-hash-set
    frame, per-row set intersection linear in doc length, and the
    intersection size is let-bound (functions/binding.let_sql) — unbound,
    the jaccard + is_dup references would evaluate it 4x per pair.
    Output-bound: cost tracks the candidate count (measured in
    tools/scale_probe.py ``pair_verify``: pairs/sec RISES 72k -> 323k
    -> 683k across 10x/30x/100x), never the corpus squared — the
    candidates stay however-bucketed their generator made them.

    The hash-set frame is pinned: BOTH sides of the pair join consume
    it, and unpinned each would replay the full tokenize+shingle+md5
    pass (``_shingle_hashes`` already spreads an under-split input;
    under pinning_disabled() plan tooling still sees the full lineage).
    """
    from .pinning import pin

    sh = pin(
        _shingle_hashes(docs, id_col, text_col, k).selectExpr(
            "doc_id", "array_distinct(_h) AS s"
        )
    )
    # contract guard (see docstring): assert_true is NULL when passing,
    # so coalesce(guard, jac) returns jac untouched — zero-cost, but a
    # missing pair id or a 0/0 empty-shingle pair fails loudly instead
    # of vanishing (missing id, under the old inner joins) or emitting
    # NULL (0/0 division). Folded into the OUTPUT column — a dropped
    # standalone guard column would be pruned and never evaluated. The
    # coalesce shape (not `jac + guard`) matters: coalesce evaluates
    # args left-to-right, whereas Add short-circuits to NULL on a NULL
    # left operand without ever evaluating the guard — and jac is NULL
    # in exactly the inputs the guard exists to catch.
    # The intersection is plain-divided: the guard (coalesce arg 1)
    # aborts on the only zero-denominator input before division runs.
    msg = sql_string(
        ") has an id missing from docs or two shingle-less"
        f" docs (both texts < {k} words)"
    )
    guard = (
        "CAST(assert_true(_sa IS NOT NULL AND _sb IS NOT NULL "
        "AND size(_sa) + size(_sb) > 0, "
        "concat('verify_pairs_jaccard: pair (', CAST(doc_a AS STRING), ', ', "
        f"CAST(doc_b AS STRING), {msg})) AS DOUBLE)"
    )
    jac = let_sql(
        "CAST(size(array_intersect(_sa, _sb)) AS BIGINT)",
        "i",
        "i / CAST(size(_sa) + size(_sb) - i AS DOUBLE)",
    )
    joined = pairs.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("_sa")),
        "doc_a",
        "left",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("_sb")),
        "doc_b",
        "left",
    )
    return (
        joined.withColumn("jaccard", F.expr(f"coalesce({guard}, {jac})"))
        .withColumn("is_dup", (F.col("jaccard") >= threshold).cast("int"))
        .drop("_sa", "_sb")
    )


def cc_edge_list(
    edges: DataFrame, edge_cols: tuple[str, str] = ("doc_a", "doc_b")
) -> DataFrame:
    """Undirected (_src, _dst) edge list — each input pair emitted in
    both directions. This is the frame ``connected_components``
    materializes once before iterating; exposed unpinned so plan
    tooling can guard its shape (the end-to-end closure plan is
    truncated to an ExistingRDD scan by the per-round checkpoints)."""
    a, b = edge_cols
    return edges.select(
        F.col(a).alias("_src"), F.col(b).alias("_dst")
    ).unionByName(
        edges.select(F.col(b).alias("_src"), F.col(a).alias("_dst"))
    )


def cc_first_round(
    vertices: DataFrame, und: DataFrame, vertex_col: str = "doc_id"
) -> DataFrame:
    """Round 1 of min-label propagation + pointer jump, exploiting the
    identity seed: labels_0(v) = v, so the neighbor-label candidates
    ARE the edge list relabeled — (_dst, _src) — and no seed frame,
    seed checkpoint, or labels join exists at all (round-15: the
    separate ``cc_seed_labels`` checkpoint was a whole extra job per
    closure, and round 1's edge-labels join another). Dangling
    endpoints (present in edges, absent from ``vertices``) get their
    own-id candidate via ``least(doc_id, min(neighbors))`` — the group
    key is the vertex, so its identity label needs no input row.

    Returns (doc_id, component_id, _changed) — the same contract as
    ``cc_jump_round``: ``_changed`` is true iff the vertex's label
    moved below its round-entry label (here: its own id), so the
    convergence probe is a narrow filter over the checkpointed frame,
    never a join of two label snapshots."""
    cand = vertices.select(
        F.col(vertex_col).alias("doc_id"),
        F.col(vertex_col).alias("component_id"),
    ).unionByName(
        und.select(F.col("_dst").alias("doc_id"), F.col("_src").alias("component_id"))
    )
    hop = (
        cand.groupBy("doc_id")
        .agg(F.min("component_id").alias("_m"))
        .select("doc_id", F.least(F.col("doc_id"), F.col("_m")).alias("component_id"))
    )
    lab_map = hop.select(
        F.col("doc_id").alias("component_id"),
        F.col("component_id").alias("_cc"),
    )
    return hop.join(lab_map, "component_id", "left").select(
        "doc_id",
        F.coalesce("_cc", "component_id").alias("component_id"),
        (F.coalesce("_cc", "component_id") != F.col("doc_id")).alias("_changed"),
    )


def cc_jump_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label-propagation + pointer-jump round: every vertex
    takes the min of its own, its neighbors', and its label's label
    (path halving). Returns (doc_id, component_id, _changed) unpinned —
    the loop in ``connected_components`` checkpoints it per round; plan
    tooling guards this shape directly (two hash-agg/join shuffles
    keyed on the vertex, never a cartesian or a window).

    ``_changed`` carries the convergence signal IN the round's own
    frame (round-15): the round-entry label rides the aggregate as
    ``min(component_id) over the own-label rows`` — labels has exactly
    one row per vertex, so that min IS the old label — and the flag is
    a post-jump comparison. The old per-round convergence probe joined
    the new and old label snapshots (a second shuffle join per round);
    now it is a narrow filter over the checkpointed round output.
    Labels only ever decrease (min propagation), so ``!=`` is ``<``."""
    nbr = und.join(
        labels, und["_src"] == labels["doc_id"], "inner"
    ).select(F.col("_dst").alias("doc_id"), "component_id")
    tagged = labels.select(
        "doc_id", "component_id", F.lit(True).alias("_own")
    ).unionByName(
        nbr.select("doc_id", "component_id", F.lit(False).alias("_own"))
    )
    hop = tagged.groupBy("doc_id").agg(
        F.min("component_id").alias("component_id"),
        # labels is one row per vertex and its spine covers every edge
        # endpoint (established by cc_first_round), so this min is
        # exactly the round-entry label — never NULL
        F.min(F.when(F.col("_own"), F.col("component_id"))).alias("_old"),
    )
    # pointer jump: comp(v) := comp(comp(v)) — labels are always
    # existing doc ids, so the self-join resolves every label
    lab_map = hop.select(
        F.col("doc_id").alias("component_id"),
        F.col("component_id").alias("_cc"),
    )
    return hop.join(lab_map, "component_id", "left").select(
        "doc_id",
        F.coalesce("_cc", "component_id").alias("component_id"),
        (F.coalesce("_cc", "component_id") != F.col("_old")).alias("_changed"),
    )


def _cc_union_find(src: list, dst: list) -> tuple[list, list]:
    """Min-id union-find over the collected undirected edge list.
    Returns parallel (vertex, label) lists covering every edge
    endpoint, each label the minimum id in the endpoint's component.

    A NULL endpoint gets what the distributed loop gives it: NULL never
    equals an id, so it passes no label on, but as a grouping key it
    absorbs the minimum label of its non-NULL neighbors (NULL if it has
    none)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    null_nbrs = []
    has_null = False
    for a, b in zip(src, dst):
        if a is None or b is None:
            has_null = True
            # und holds both directions, so each neighbor of NULL shows
            # up once as (nbr, NULL)
            if b is None and a is not None:
                null_nbrs.append(a)
                parent.setdefault(a, a)
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its component's min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    ids = list(parent)
    labels = [find(v) for v in ids]
    if has_null:
        ids.append(None)
        labels.append(min((find(v) for v in null_nbrs), default=None))
    return ids, labels


def _cc_driver(vertices: DataFrame, und: DataFrame, vertex_col: str) -> DataFrame:
    """Driver tier of ``connected_components``: collect the pinned
    edge list through Arrow, close it with union-find, and return the
    labels as one Arrow-built local relation. The vertex rows and the
    labeled endpoints meet in ONE aggregate keyed on the vertex (as in
    ``cc_first_round``): duplicate vertex rows collapse, dangling
    endpoints keep their row, and ``coalesce(label, doc_id)`` gives
    every vertex without an edge its own id."""
    from pyspark.sql.types import StructField, StructType

    from .joins import local_relation

    vx = vertices.select(F.col(vertex_col).alias("doc_id"))
    # compare ids in the type the loop compares them in: its rounds
    # union the vertex column with the edge columns
    wide = vx.unionByName(und.select(F.col("_src").alias("doc_id")))
    wide = wide.schema[0].dataType
    tbl = und.select(F.col("_src").cast(wide), F.col("_dst").cast(wide)).toArrow()
    ids, labels = _cc_union_find(
        tbl.column(0).to_pylist(), tbl.column(1).to_pylist()
    )
    lab = local_relation(
        und.sparkSession,
        StructType([StructField("doc_id", wide), StructField("_lab", wide)]),
        [ids, labels],
    )
    return (
        vx.select("doc_id", F.lit(None).cast(wide).alias("_lab"))
        .unionByName(lab)
        .groupBy("doc_id")
        .agg(F.min("_lab").alias("_lab"))
        .select("doc_id", F.coalesce("_lab", "doc_id").alias("component_id"))
    )


def _cc_loop(
    vertices: DataFrame, und: DataFrame, vertex_col: str, max_iter: int
) -> DataFrame:
    """Distributed tier of ``connected_components``: min-label
    propagation with pointer jumping over the pinned edge list, one
    eager checkpoint per round."""
    from pyspark.sql import Observation

    labels = None
    for rnd in range(max_iter):
        if rnd == 0:
            new_labels = cc_first_round(vertices, und, vertex_col)
        else:
            new_labels = cc_jump_round(und, labels)
        # The convergence probe rides the checkpoint materialization as
        # an observed metric (round-15, guide §1): a separate
        # filter(_changed).count() was one extra Spark job PER ROUND —
        # the observed sum streams through the same pass that
        # materializes the round, so each round is exactly one job.
        obs = Observation(f"cc_changed_r{rnd}")
        new_labels = new_labels.observe(
            obs, F.sum(F.col("_changed").cast("long")).alias("n")
        ).localCheckpoint(eager=True)
        changed = int(obs.get["n"] or 0)
        labels = new_labels.select("doc_id", "component_id")
        if changed == 0:
            break
    return labels


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str = "doc_id",
    edge_cols: tuple[str, str] = ("doc_a", "doc_b"),
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: (doc_id, component_id) where
    component_id = min doc_id reachable through candidate-pair edges.
    Every vertex row and every edge endpoint gets exactly one row.

    Two tiers, chosen by the size of the edge list and agreeing row
    for row:

    - **Driver tier** (``_cc_driver``): when the undirected edge
      list's payload is at most ``spark.sql.autoBroadcastJoinThreshold``
      bytes (see ``joins.payload_bytes``), it is collected once through
      Arrow, closed with min-id union-find on the driver, and the
      labels return as one local relation joined back to the vertices
      in a single aggregate. Construction costs the edge
      materialization plus one collect, whatever the graph's diameter.
    - **Distributed tier** (``_cc_loop``): above the bound, iterative
      min-label propagation with pointer jumping (``cc_first_round`` /
      ``cc_jump_round``), so convergence is O(log diameter) rounds —
      not O(diameter) as plain propagation would be on chain graphs.
      Each round is two shuffles keyed on the vertex; lineage is
      truncated per round with a local checkpoint so the plan doesn't
      grow with iterations, and the driver sees only a changed-row
      count per round. The identity seed is folded into round 1 and
      each round's convergence probe is an observed ``_changed`` sum
      riding the round's own checkpoint, so a round is one job.

    The edge list is pinned once, ahead of either tier: without that
    every round (or the collect) would re-execute the upstream
    pipeline that produced the edges — for LSH candidate pairs the
    whole tokenize->minhash->band join. The byte count is an observed
    sum riding that materialization (``joins.measured_pin``), so the
    bound is checked executor-side before any edge row reaches the
    driver.

    A threshold of -1 (broadcasting off) keeps the loop, and so does
    ``pinning_disabled()``: plan tooling sees the same loop-truncated
    plans as before, and its edge list is pinned lazily so the
    materialization rides round 1's checkpoint job.

    NULL ids never join anything, so they link no two vertices; a NULL
    vertex takes the minimum label of its non-NULL neighbors, or NULL
    (``_cc_union_find``)."""
    from .joins import measured_pin
    from .pinning import pinning_is_disabled

    und = cc_edge_list(edges, edge_cols)
    # the session's parsed byte value (the raw conf may read "10MB")
    conf = und.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    if pinning_is_disabled() or limit < 0:
        und = und.localCheckpoint(eager=False)
        return _cc_loop(vertices, und, vertex_col, max_iter)
    und, nbytes, _ = measured_pin(und)
    if nbytes > limit:
        return _cc_loop(vertices, und, vertex_col, max_iter)
    return _cc_driver(vertices, und, vertex_col)


def dedup_corpus_edges(
    docs: DataFrame,
    k: int = 3,
    max_bucket_size: int | None = None,
    min_bands: int = 1,
    verify_jaccard: float | None = None,
) -> DataFrame:
    """The (doc_a, doc_b) duplicate-edge union ``dedup_corpus`` feeds to
    the transitive closure: exact-digest star edges (canonical -> each
    copy) UNION MinHash-banded-LSH near-duplicate candidate edges,
    optionally band-count-filtered and exact-Jaccard-verified. `docs`
    must carry (doc_id, text). Exposed as its own operator so plan
    tooling can guard its shape — inside ``dedup_corpus`` the eager
    per-round checkpoints truncate the visible plan."""

    # Exact-digest star edges, NOT dedup_exact(docs).filter(doc !=
    # canonical): the edges only exist for digests with >= 2 members,
    # so the build side is filtered to group_size >= 2 BEFORE the
    # join-back (guide §2.3 — filter before the exchange). On a mostly-
    # unique corpus that shrinks the build from one row per distinct
    # digest to one row per DUPLICATED digest (orders of magnitude at
    # scale), the inner join then drops unique-digest docs for free,
    # and AQE sees a build side small enough to broadcast. Same
    # null-safe digest grouping and hot-key salting as dedup_exact.
    def _exact_side():
        d, groups = _digest_groups(docs)
        return (
            _digest_join(d, groups.filter(F.col("group_size") >= 2))
            .filter(F.col("doc_id") != F.col("canonical_id"))
            .select(
                F.col("canonical_id").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
        )

    # the closure is invariant to duplicate edges (min over neighbors),
    # so when nothing consumes the per-pair band count the pair-dedup
    # shuffle is skipped outright (guide §2.4); min_bands > 1 or a
    # verify threshold still needs distinct pairs + counts
    need_counts = min_bands > 1 or verify_jaccard is not None
    # construct_all (guide §2.6): the exact side's construction runs
    # the digest-agg checkpoint + hot-key probe (JVM jobs) while the
    # LSH side's construction is driver-side expression building —
    # independent, so they overlap on two threads; both frames stay
    # lazy for the closure's single edge-list materialization.
    from .pinning import construct_all

    exact_edges, near_edges = construct_all(
        _exact_side,
        lambda: lsh_candidate_pairs(
            docs, k=k, max_bucket_size=max_bucket_size, dedupe_pairs=need_counts
        ),
    )
    if min_bands > 1:
        near_edges = near_edges.filter(F.col("n_bands") >= min_bands)
    near_edges = near_edges.select("doc_a", "doc_b")
    if verify_jaccard is not None:
        # minhash_band_keys gives shingle-less docs no band, so every
        # candidate meets verify_pairs_jaccard's input contract
        near_edges = (
            verify_pairs_jaccard(near_edges, docs, k=k, threshold=verify_jaccard)
            .filter("is_dup = 1")
            .select("doc_a", "doc_b")
        )
    return exact_edges.unionByName(near_edges)


def resolve_survivors(
    comp: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware survivor selection over a component labeling
    (round-12 verdict item 4): given ``comp`` = (doc_id, component_id)
    and a per-doc ``scores`` frame, keep the HIGHEST-scoring member of
    each duplicate cluster, deterministic tie-break to the lowest
    doc_id — the rule real pipelines want (the best copy survives, not
    the accidentally-lowest-id one). A member missing from ``scores``
    (or carrying a NULL score) sorts after every scored member
    (NULLS LAST explicitly on both engines), then by id — so an
    all-unscored cluster degrades to exactly the min-id rule.

    Returns (doc_id, component_id, keep) — the same contract as
    ``dedup_corpus``'s default resolution, with ``keep`` true for
    exactly one member per cluster.

    Scale shape: one left join on doc_id (AQE-managed) + one window
    partitioned by component_id. The window's partition key is the
    CLUSTER, not the corpus — cluster sizes are bounded by the dedup
    family's own skew hygiene (max_bucket_size / min_bands upstream),
    so no single task sees more than a cluster; this is the
    topn_per_group shape (SURVEY L3), not a global window.

    ``scores`` need not be unique per doc_id: duplicate score rows are
    collapsed to the MAX score per doc before the join (a map-side-
    combined aggregate on the scores side only — typically the small
    side), so a doubled ledger row can never multiply cluster members
    through the left join and break the exactly-one-keep contract."""
    sc = (
        scores.select(
            F.col(id_col).alias("doc_id"), F.col(score_col).alias("_score")
        )
        .groupBy("doc_id")
        .agg(F.max("_score").alias("_score"))
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc_nulls_last("_score"), F.asc("doc_id")
    )
    return (
        comp.join(sc, "doc_id", "left")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "component_id",
            (F.col("_rn") == 1).alias("keep"),
        )
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bucket_size: int | None = None,
    min_bands: int = 1,
    verify_jaccard: float | None = None,
    survivor_scores: DataFrame | None = None,
    survivor_score_col: str = "score",
    vertices: DataFrame | None = None,
) -> DataFrame:
    """End-to-end corpus dedup policy: one call from raw docs to a
    keep/drop decision per document.

    Composes the pieces a training-data pipeline otherwise hand-wires
    (the policy the reference applies per-file via its processed-ledger,
    /root/reference/src/transcription.py:60-80, generalized to
    content-level dedup):

      1. exact-duplicate edges — md5 digest groups (``dedup_exact``);
         these also cover docs too short to shingle, which LSH skips;
      2. near-duplicate candidate edges — MinHash banded LSH
         (``lsh_candidate_pairs``);
      3. transitive closure over the union of both edge sets
         (``connected_components``), so A~B, B~C collapse even when
         A,C never collide directly;
      4. survivor selection: by default keep the lowest doc_id per
         component; pass ``survivor_scores`` (an (id_col, score) frame,
         score column named by ``survivor_score_col``) to keep the
         HIGHEST-scoring member instead, ties to the lowest doc_id
         (``resolve_survivors`` — the best copy survives, the policy
         real pipelines run; a quality heuristic or the frozen
         classifier logit are the natural scores).

    Returns (doc_id, component_id, keep): ``keep`` is true for exactly
    one doc per duplicate cluster.  Kept corpus = ``.filter("keep")``;
    drop list = ``.filter(~F.col("keep"))``.

    Precision controls — transitive closure AMPLIFIES false-positive
    edges (one bad A-B edge merges A's and B's entire clusters), so
    production corpora want at least one of:

    - ``min_bands``: keep only candidate pairs colliding in >= that
      many LSH bands (collision count is already computed — free). With
      16 perms in 4 bands, P[>=2 bands] for Jaccard s is
      1-(1-s^4)^4 - 4 s^4 (1-s^4)^3 — sharply suppresses s < 0.5 pairs.
    - ``verify_jaccard``: rescore every surviving candidate pair by
      EXACT shingle Jaccard (``verify_pairs_jaccard``) and keep pairs
      >= the threshold (the candidates-then-verify discipline of MMDS
      ch.3). Costs one pinned pass over the corpus' distinct shingle
      hashes plus two joins of the (small) pair list against it;
      never touches non-candidate pairs.

    Scale notes (100 TB): exact edges are star-shaped (canonical -> each
    copy, no quadratic bucket expansion); near edges inherit the banded
    LSH shuffle + ``max_bucket_size`` skew cap; the closure
    (``connected_components``) pins the edge list once and counts its
    bytes on the executors: up to ``spark.sql.autoBroadcastJoinThreshold``
    bytes it closes on the driver with union-find (one collect), above
    that it runs pointer-jumping min-label rounds, O(log diameter). No
    stage sees more than (id, id) edge rows after the LSH bucket join.

    ``vertices`` (round-15, guide §1.2 — don't recompute what a pinned
    frame already holds): an optional (id_col) frame whose id SET must
    equal ``df``'s (duplicates are harmless — the closure groups by
    vertex). When ``df``'s lineage is expensive (prepare_corpus feeds a
    normalize + semi-join pipeline), the default vertex-seed derivation
    replays that whole lineage a third time just to list the ids;
    callers holding a cheaper equivalent frame (the pinned quality
    verdict) pass it here. Results are identical under the set-equality
    precondition; omit it unless the equality is certain.
    """
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    vx = (
        docs.select("doc_id")
        if vertices is None
        else vertices.select(F.col(id_col).alias("doc_id"))
    )
    comp = connected_components(
        vx,
        dedup_corpus_edges(
            docs,
            k=k,
            max_bucket_size=max_bucket_size,
            min_bands=min_bands,
            verify_jaccard=verify_jaccard,
        ),
    )
    if survivor_scores is not None:
        # scores are keyed by the CALLER'S id column (id_col), same as
        # df — forwarded so a custom id never forces the scores frame
        # to be renamed to the literal "doc_id"
        return resolve_survivors(
            comp.select("doc_id", "component_id"),
            survivor_scores,
            id_col=id_col,
            score_col=survivor_score_col,
        )
    # min-id rule without a second pass: the component label IS the
    # min reachable doc_id, so the survivor test is a comparison, not
    # a join or window
    return comp.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("keep"),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_tables: int = 4,
    n_planes: int = 4,
    exact: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cos_sim).

    DEFAULT (blocked, the 100 TB path): each vector gets ``n_tables``
    sign-LSH bucket keys (vectors.lsh_band_keys); a pair is a candidate
    iff it collides in >= 1 table, candidates are deduped and scored by
    EXACT cosine, then thresholded. One shuffle keyed on (tbl, bkt) for
    the bucket equi-join + one pair-dedup aggregation — candidate count
    ~ n^2 / (2^n_planes * n) per table, never the O(n^2) cross join.
    Recall for a pair at angle theta is
    1 - (1 - (1-theta/pi)^n_planes)^n_tables (~0.97 at cos 0.9, 4x4);
    raise n_tables for more recall, n_planes for fewer candidates.

    SIZE n_planes TO THE CORPUS: buckets per table = 2^n_planes, and a
    table's candidate count is ~ sum over buckets of m^2/2, so the
    4-plane default (16 buckets — right for the oracle's ~10^2-10^3
    rows) goes quadratic on big corpora. Keep expected bucket size
    bounded: n_planes ~ log2(n / target_bucket), e.g. 20k vectors ->
    12 planes, 1B -> ~27; add tables to buy back the recall the extra
    planes cost (each plane multiplies per-table recall by
    (1-theta/pi)). tools/scale_probe.py measures the 20k config.

    ``max_bucket_size`` drops (table, bucket) groups larger than the cap
    before the self-join — the same inverted-index hygiene as
    ``lsh_candidate_pairs``. A bucket of m colliding vectors emits
    m(m-1)/2 scored candidates, so one degenerate bucket (a template
    embedding repeated across the corpus, or an undersized n_planes)
    can dominate the whole job quadratically; members of a dropped
    bucket can still pair through their other n_tables-1 tables, and a
    truly hot vector cluster is better handled by exact dedup upstream.
    None (default) keeps the oracle exact.

    ``exact=True`` keeps the all-pairs self-join — the verification /
    small-n mode (and the only mode that guarantees recall 1.0).
    """
    from .vectors import dot_sql, l2_norm_sql, lsh_band_keys

    # Norms depend on ONE side each: an inline per-pair cosine (dot_sql
    # over both l2_norm_sql folds) re-derives both norms inside the pair
    # loop — 3 interpreted array folds per pair instead of 1 (the same
    # factoring knn_topk, ann_lsh_topk and semantic_dedup already use).
    # Same expressions on the same arrays, so the factored score is
    # bit-identical; try_divide keeps a zero vector's cosine NULL (the
    # oracle's nullif(norm * norm, 0)).
    norm = l2_norm_sql(f"`{vec_col}`")
    if exact:
        a = emb.selectExpr(
            f"`{id_col}` AS vec_a", f"`{vec_col}` AS _va", f"{norm} AS _na"
        )
        b = emb.selectExpr(
            f"`{id_col}` AS vec_b", f"`{vec_col}` AS _vb", f"{norm} AS _nb"
        )
        return (
            a.join(b, F.col("vec_a") < F.col("vec_b"))
            .selectExpr(
                "vec_a",
                "vec_b",
                f"try_divide({dot_sql('_va', '_vb')}, _na * _nb) AS cos_sim",
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    if dim is None:
        raise ValueError(
            "embedding_near_dup_pairs: dim is required for the blocked "
            "(default) path; pass exact=True for the all-pairs form"
        )
    # ensure_parallelism: the bucket hashing is n_tables x n_planes x
    # dim interpreted dot folds per row — a one-file local scan would
    # single-thread it (measured 2x the whole query at sf0.1); a no-op
    # on already-split inputs (round-15, guide §2.5 input-skew rule)
    # _n computed BEFORE the explode: Generate copies the projected
    # columns per emitted key, so the norm fold runs once per vector,
    # not once per (vector, table)
    keyed = ensure_parallelism(emb).selectExpr(
        f"`{id_col}` AS _id", f"`{vec_col}` AS _v", f"{norm} AS _n"
    ).withColumn(
        "_bk", F.explode(lsh_band_keys("_v", dim, n_tables, n_planes))
    )
    if max_bucket_size is not None:
        # Pin the keyed frame first: FOUR consumers would otherwise
        # replay the hyperplane hashing (dim x n_planes x n_tables dots
        # per vector) — the count aggregate plus both self-join sides
        # each carry the full scan->hash lineage. The pin is narrow
        # (no shuffle stages submitted at call time), so it is safe
        # under the lazy-localCheckpoint-executes-under-AQE hazard.
        from .pinning import pin

        keyed = pin(keyed)
        # map-side-combined count per bucket, then an equi-join back on
        # the bucket key — co-partitioned with the pair self-join's own
        # shuffle, and the sizes frame is one row per bucket (tiny next
        # to `keyed`, broadcast under AQE at bench scale)
        ok = (
            keyed.groupBy("_bk")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_bucket_size)
            .select("_bk")
        )
        keyed = keyed.join(ok, "_bk")
    a = keyed.alias("a")
    b = keyed.alias("b")
    # Score at the collision site, THEN threshold, THEN dedup pairs that
    # collided in several tables. Scoring first keeps the heavy payload
    # (2 x dim doubles per pair) OUT of the pair-dedup shuffle — only
    # (ids, score) rows move, and the threshold filter already dropped
    # the non-dups, so the exchange carries near-dups only. A pair's
    # score is identical in every colliding table, so first() is exact.
    scored = a.join(
        b,
        (F.col("a._bk") == F.col("b._bk")) & (F.col("a._id") < F.col("b._id")),
    ).selectExpr(
        "a._id AS vec_a",
        "b._id AS vec_b",
        f"try_divide({dot_sql('a._v', 'b._v')}, a._n * b._n) AS cos_sim",
    )
    return (
        scored.filter(F.col("cos_sim") >= threshold)
        .groupBy("vec_a", "vec_b")
        .agg(F.first("cos_sim").alias("cos_sim"))
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings with a k-means coarse
    quantizer, then WITHIN each cluster drop every vector that has ANY
    lower-id near-duplicate neighbor (cosine >= ``threshold``) —
    whether or not that neighbor is itself kept. This is exactly the
    released SemDeDup implementation's rule (per-cluster pairwise
    similarity matrix, drop column j iff the upper-triangular max over
    i<j exceeds the threshold; ids here play the role of their
    ordering), and it is deliberately NOT a transitive-closure
    one-per-component pass: a chain a~b~c with a's and c's similarity
    BELOW the threshold keeps only a (b drops via a, c drops via the
    already-dropped b) — slightly more aggressive on similarity chains
    than keeping one representative per connected component. Doc-level
    transitive-closure dedup is ``dedup_corpus``; cells are never
    bridged.

    Returns one row per input vector:
    (vec_id, cell, keep, dup_of, cos_max) — ``keep`` is false iff some
    lower-id vector in the same cell is a near-duplicate; for dropped
    rows ``dup_of`` is the LOWEST such neighbor id (which may itself
    have been dropped — chain case above) and ``cos_max`` the HIGHEST
    near-duplicate similarity (two independent deterministic
    aggregates — they need not describe the same neighbor); both NULL
    for kept rows. Deduped corpus = ``.filter("keep")``.

    ``centroids`` follows the train/freeze/apply seam of the quantizer
    family: pass ``frozen_quantizer()[0]`` (or ``train_ivf_centroids``
    output) for trained cells — metadata-sized, SQL-replayable by the
    oracle; None uses the fixed pseudo-random family (deterministic,
    test/oracle baseline).

    Cell assignment is ``vectors.assign_cells``, tiered on the cell
    count alone: centroids ride the plan as expression literals up to
    ``vectors.CELL_LITERAL_MAX`` cells (the gate/oracle baseline), a
    broadcast centroid TABLE + per-vector fold up to
    ``vectors.CELL_EXACT_AUTO_MAX`` (plan size and shuffle volume
    independent of cell count; tools/scale_probe.py
    ``semantic_table_assign``), and one numpy GEMM per Arrow batch past
    that (the interpreted k x dim fold is ~10x slower at 10k cells and
    compute-infeasible at the paper's 50k cells x 5B embeddings). The
    first two agree bit-for-bit on every row, NULL vectors included,
    so the keep/drop output never depends on which of them ran; the
    GEMM tier is argmax-under-float64 (``assign_cells_arrow``'s parity
    caveat) and agrees with them on real embedding data. The
    within-cell pairing below is identical on every tier.

    Scale (the SemDeDup cost model): the only quadratic stage is the
    within-cell self-join, so cell count must scale with the corpus —
    the paper uses 50k clusters for 5B embeddings; keep expected cell
    size bounded (n_cells ~ n / target_cell_size) exactly like the
    ``n_planes`` guidance on ``embedding_near_dup_pairs``. The join
    itself shuffles on the cell key once per side; ``max_cell_size``
    is the same degenerate-bucket hygiene as ``max_bucket_size`` —
    cells larger than the cap are excluded from PAIRING (their members
    all stay kept — conservative, never wrong-way lossy) because one
    template-embedding cell would otherwise go quadratic. The cell
    assignment (n_cells x dim dots per row) is pinned: three consumers
    (both self-join sides + the output spine) would replay it; the pin
    is narrow (no shuffle jobs at call time).
    """
    from .pinning import pin
    from .vectors import assign_cells, dot_sql, l2_norm_sql, resolve_centroids

    cents = resolve_centroids(dim, n_cells, centroids)
    # Per-pair work is the hot path (a cell of m vectors scores ~m^2/2
    # pairs), so the L2 norm is computed ONCE per vector here, pinned —
    # an inline per-pair cosine re-aggregates both norms for every pair
    # (measured 8.5s at sf0.1 vs 0.6s for this plan). Same doubles as
    # the oracle's inline norms: fold orders match, parity unchanged.
    # ensure_parallelism once, on the spine, for every tier: the
    # literal tier's n_cells x dim interpreted dots also single-thread
    # on a one-file scan — measured 2.6s -> 1.3s for the whole operator
    # at sf0.1 (round-15)
    spine = ensure_parallelism(emb).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
    )
    assigned = assign_cells(spine, cents, "_v", out_col="_cell")
    base = pin(assigned.selectExpr("*", f"{l2_norm_sql('_v')} AS _n"))
    paired = base
    if max_cell_size is not None:
        ok = (
            base.groupBy("_cell")
            .agg(F.count(F.lit(1)).alias("_csz"))
            .filter(F.col("_csz") <= max_cell_size)
            .select("_cell")
        )
        paired = base.join(ok, "_cell")
    a = paired.alias("a")
    b = paired.alias("b")
    # The threshold lives INSIDE the aggregate (when()), not in a
    # filter: a filter over the scored projection gets pushed into the
    # BroadcastHashJoin as a non-equi condition, where the HOF-lambda
    # dot is CodegenFallback and the whole pair stream drops out of
    # whole-stage codegen — measured 2.5s vs 0.15s for the identical
    # pair count with the join condition kept to (cell, id<) only.
    # Groups where no pair clears the threshold aggregate to NULL and
    # are dropped after — row-for-row the same result as filter-first.
    scored = a.join(
        b,
        (F.col("a._cell") == F.col("b._cell"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).selectExpr(
        "a.vec_id AS _ia",
        "b.vec_id AS _ib",
        # try_divide: a zero vector has _n = 0 and a bare division kills
        # the job with ANSI DIVIDE_BY_ZERO; NULL cosine fails the
        # threshold when() below, so zero vectors dedup nothing — the
        # oracle's nullif(na*nb, 0) semantics
        f"try_divide({dot_sql('a._v', 'b._v')}, a._n * b._n) AS _cs",
    )
    dropped = (
        scored.groupBy(F.col("_ib").alias("vec_id"))
        .agg(
            F.min(
                F.when(F.col("_cs") >= threshold, F.col("_ia"))
            ).alias("dup_of"),
            F.max(
                F.when(F.col("_cs") >= threshold, F.col("_cs"))
            ).alias("cos_max"),
        )
        .filter(F.col("dup_of").isNotNull())
    )
    return base.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("_cell").alias("cell"),
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
        "cos_max",
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 32,
) -> DataFrame:
    """Sub-document (chunk/paragraph-level) exact dedup with reassembly.

    Web-corpus pipelines (C4, CCNet, RefinedWeb) dedup below document
    granularity: boilerplate paragraphs repeat across pages that are
    not whole-document duplicates. This is the chunk-granular analog of
    `dedup_exact`: split into fixed word chunks, keep each distinct
    chunk's FIRST occurrence (ordered by (doc_id, chunk_idx)), and
    rebuild every document from its surviving chunks.

    Returns (doc_id, text_dedup, n_chunks_kept, n_chunks_orig) — ONE
    row per input doc: a doc whose every chunk already appeared
    elsewhere keeps an empty string, and a doc that produced no chunks
    at all (empty / whitespace-only / NULL text) comes back as
    ('', 0, 0) through chunk_text's ``keep_chunkless`` marker row
    (round-15, guide §2.4: the marker aggregates through the per-doc
    regroup, replacing the distinct-doc-spine left join that paid two
    extra corpus-id shuffles just to resurrect chunkless docs).

    Scale: the winner per digest comes from `groupBy(digest).min(struct)`
    — partial aggregation combines map-side, so a boilerplate chunk
    repeated in millions of docs sends at most one candidate row per
    input partition to the reducer (a digest-keyed WINDOW would instead
    sort every copy of the hot chunk in one task — the exact skew the
    motivating C4/CCNet boilerplate case exhibits). The flag join back
    is a hash equi-join AQE can skew-split, followed by the per-doc
    regroup. Chunking itself is a narrow explode.
    """
    from .text import chunk_text

    # keep_chunkless: a chunkless doc rides through as ONE marker row
    # (NULL chunk_text -> NULL _d); real chunks never have NULL text,
    # so the marker is unambiguous end-to-end
    chunks = chunk_text(
        df, id_col=id_col, text_col=text_col, chunk_words=chunk_words,
        keep_chunkless=True,
    ).withColumn("_d", F.md5("chunk_text"))
    # winners over REAL digests only — the marker rows form no digest
    # group and must win nothing
    winners = (
        chunks.filter(F.col("_d").isNotNull())
        .groupBy("_d")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("_w"))
    )
    # LEFT join: a marker row's NULL _d matches nothing and survives
    # with _w NULL (its _keep is NULL -> collect_list/sum skip it)
    flagged = chunks.join(winners, "_d", "left").withColumn(
        "_keep",
        (F.col("doc_id") == F.col("_w.doc_id"))
        & (F.col("chunk_idx") == F.col("_w.chunk_idx")),
    )
    kept_struct = F.when(
        F.col("_keep"), F.struct("chunk_idx", "chunk_text")
    )  # NULL for dropped chunks -> collect_list skips them
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("text_dedup"),
            # a chunkless doc's group is one all-NULL-_keep row: the
            # sum is NULL -> 0; count(chunk_text) skips the marker so
            # n_chunks_orig lands on 0
            F.coalesce(
                F.sum(F.col("_keep").cast("long")), F.lit(0).cast("long")
            ).alias("n_chunks_kept"),
            F.count("chunk_text").cast("long").alias("n_chunks_orig"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 32,
    fpp: float = 0.01,
) -> DataFrame:
    """Incremental-ingest dedup: drop every NEW document that shares at
    least one ``chunk_words``-word chunk with the EXISTING corpus; the
    steady-state form of corpus building (the reference reprocesses the
    whole bucket each run, `/root/reference/src/aws_bucket.py` — here
    only the new batch is scanned against a fixed-size sketch of what's
    already ingested).

    Exactness via the Bloom recheck pattern (`operators/bloom.py`): the
    existing corpus's chunk digests fold into a broadcast bitmap; new
    chunks that miss are definitively novel, and only the ~fpp
    maybe-hits enter an exact semi-join recheck. A new doc is dropped
    iff one of its chunks CONFIRMS. Returns the surviving new_docs rows
    unchanged.

    Scale: the existing corpus's chunk+digest lineage is materialized
    ONCE (localCheckpoint) and reused by the three consumers that would
    otherwise each re-run the explode+md5 scan — the bitmap sizing
    count, the bitmap aggregation, and the recheck join (whose build
    side is then only the digest table, never the corpus). New-batch
    cost is one narrow chunk pass + the tiny confirmed-id anti-join.
    """
    from .bloom import build_bloom, with_bloom_contains
    from .text import chunk_text

    from pyspark.sql import Observation

    # the bitmap-sizing HLL rides the checkpoint materialization as an
    # observed metric (round-15, guide §1) instead of its own sizing
    # job over the checkpointed digests — same sketch, same estimate,
    # one less Spark job
    obs = Observation("incremental_dedup_hll")
    ex_digests = (
        chunk_text(
            existing, id_col=id_col, text_col=text_col, chunk_words=chunk_words
        )
        .select(F.md5("chunk_text").alias("_d"))
        .observe(obs, F.approx_count_distinct("_d", rsd=0.15).alias("n"))
        .localCheckpoint(eager=True)
    )
    bitmap, m, k = build_bloom(
        ex_digests, "_d", fpp=fpp, measured_distinct=int(obs.get["n"] or 0)
    )

    new_chunks = chunk_text(
        new_docs, id_col=id_col, text_col=text_col, chunk_words=chunk_words
    ).select("doc_id", F.md5("chunk_text").alias("_d"))
    maybe = with_bloom_contains(new_chunks, bitmap, m, k, "_d").filter(
        F.col("_bloom_maybe")
    )
    confirmed = (
        maybe.join(ex_digests.distinct(), "_d", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return new_docs.join(
        confirmed.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def span_hits(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The span index behind ``duplicated_spans``: every (doc_id, pos)
    whose k-token span hash appears in >= min_docs distinct documents.
    Exposed so tools/scale_probe.py ``span_skew`` can read the
    production join's per-task distribution directly; see
    ``duplicated_spans`` for the full contract and scale analysis."""
    if k < 2:
        raise ValueError(f"span_hits: k must be >= 2, got {k}")
    if min_docs < 2:
        raise ValueError(
            f"span_hits: min_docs must be >= 2, got {min_docs}"
        )
    # key=id_col: the level-1 (h, doc_id) aggregate below is satisfied
    # by hash(doc_id) (subset rule), so on under-split inputs the seam
    # is the postings branch's only exchange — a corpus-postings-sized
    # shuffle removed (§2.4). At scale the seam is a no-op and the
    # (h, doc_id)-keyed exchange (and its hot-h spreading) is
    # unchanged; level 2 re-keys by h either way on the tiny combined
    # output.
    sh = ensure_parallelism(docs, key=id_col).selectExpr(
        f"`{id_col}` AS doc_id",
        "posexplode("
        + hash_pair_array_sql(
            word_shingles_sql(tokens_sql(f"`{text_col}`"), k)
        )
        + ") AS (_i, h)",
    ).selectExpr("doc_id", "CAST((_i + 1) AS BIGINT) AS pos", "h")
    # two-level agg over the shared postings lineage (Catalyst prunes
    # `pos` on this branch): level 1 combines per (h, doc_id) —
    # map-side partial, and the exchange key spreads a universal h
    # across every doc_id, so the hot-h rows land on MANY tasks; level
    # 2 (tiny, partial-combined) derives BOTH the exact distinct-doc
    # count (_nd, the min_docs semantic — count of (h, doc_id) groups,
    # correct even when a caller passes duplicate doc_id rows, unlike
    # a per-row count) and the exact postings count (_npost, the
    # hot-salting criterion — within-doc span repetition inflates
    # postings without raising the doc count, so _nd alone would
    # under-salt a log-spam key).
    dup = (
        sh.groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("_nd"),
            F.sum("_c").alias("_npost"),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("h", "_npost")
    )
    from .joins import hot_salted_count_join

    # salt on (doc_id, pos), not doc_id alone: _npost hotness exists
    # precisely for WITHIN-doc repetition (the log-spam key), where all
    # of one document's postings share a doc_id — doc_id-only salting
    # would put the whole hot document back on one reducer (round-10
    # advisory); pos varies per posting, so the per-task count/n_salts
    # bound holds whichever side the hotness comes from.
    return hot_salted_count_join(
        sh, dup, key="h", count_col="_npost", salt_src=("doc_id", "pos")
    ).select("doc_id", "pos")


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_region_len: int | None = None,
) -> DataFrame:
    """Substring-level exact dedup: maximal duplicated token regions,
    the Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better", ExactSubstr) family restated relationally — a
    k-token rolling-hash span index instead of a suffix array, which
    distributes: spans are grouped by hash, never compared all-pairs.

    A span is k consecutive tokens; a span hash appearing in >=
    ``min_docs`` DISTINCT documents marks every occurrence as
    duplicated; overlapping/adjacent duplicated spans within a document
    (next.pos <= prev.pos + k) merge into maximal regions, so a copied
    paragraph reports as ONE region, not paragraph_len - k + 1 spans.

    Returns (doc_id, region_start, region_len, n_spans) — region_start
    is the 1-BASED token offset (matches SQL list indexing),
    region_len the region's token count (>= k), n_spans how many
    duplicated k-spans merged into it. Whole-document duplicates
    surface as one region spanning the doc; this operator's value over
    doc/chunk-level dedup (exact_duplicates / chunk-level groupBy) is
    the boilerplate TAIL: licenses, headers, navigation chrome pasted
    into otherwise-unique documents.

    ``min_region_len`` drops merged regions shorter than the given
    token count (a narrow post-merge filter) — Lee et al. act only on
    duplicated substrings of >= 50 tokens; with the default (None, i.e.
    k) every detected region is reported. Note the k-granularity of the
    index: a duplicated run of exactly L tokens is detected iff L >= k,
    so min_region_len below k is meaningless and left to the caller's
    choice of k.

    Span identity is the 120-bit ``md5_pair_sql`` key (two 60-bit longs
    from md5 hex chars 1-30): at 2.5e13 spans (~100 TB of text) the
    birthday false-positive bound is n^2/2^121 ~ 2e-10, so "exact" is
    honest at the stated scale — a single 60-bit key is past its
    birthday point there by seven orders of magnitude and would
    silently merge unique spans (and ``strip_duplicated_spans`` would
    silently delete non-duplicated text).

    Scale — every stage is skew-bounded; no per-hash task hot spot:

    1. ``groupBy(h, doc_id)`` over the postings — map-side partial
       combine collapses a span repeated 1000x inside one document on
       its map task, and the exchange key (h, doc_id) spreads a
       corpus-universal h across every doc_id, so the hot-h rows land
       on MANY tasks, not one.
    2. ``groupBy(h)`` over the per-(h, doc) rows — tiny, partial-
       combined (each map task emits one row per h); yields the exact
       distinct-doc count (the min_docs semantic) and the exact
       postings count (the hot-salting criterion in stage 3).
    3. postings join against the duplicated-h set via
       ``hot_salted_count_join`` — hashes whose distinct-doc count
       crosses the hot threshold are salted across n_salts reducers
       DETERMINISTICALLY (the build rows replicate per salt; the
       postings test the same bounded hot-key InSet — read once from
       the pinned aggregate, capped by max_hot_keys — round 11; was a
       broadcast-left-join that paid a per-posting BHJ probe).
       This is why the round-9 per-hash dense_rank window (one task
       per hash, however hot) was replaced: a boilerplate span in 10%
       of docs is billions of postings on ONE task under a window — a
       window partition can never be split, and AQE's byte-based skew
       split cannot be trusted here either (a hot key's rows compress
       away; see ``exact_skew`` in tools/scale_probe.py). Measured:
       ``span_skew`` plants a boilerplate prefix in 10% of docs and
       reads the max-task input share.
    4. region merge keyed on doc_id — lag + running sum, parallel
       across documents; the final per-region groupBy reuses the
       doc_id partitioning (doc_id is a prefix of its grouping key).

    Shuffle accounting: the ingest ``ensure_parallelism`` repartition
    (small inputs only — a no-op at scale), the (h, doc_id)
    partial-combined count exchange + the tiny per-h exchange above
    it, the join exchanges, and the doc_id region-merge exchange. The
    span-hash lineage is computed twice (count side + probe side) —
    deliberately: it is narrow, cheap CPU over the corpus scan, and
    materializing corpus-token-count rows to skip one recompute would
    cost more at 100 TB than the second pass. No all-pairs stage, no
    driver collect.
    """
    hits = span_hits(docs, k, min_docs, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = hits.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("_isl", F.sum("_new").over(run))
    out = (
        flagged.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("long").alias("region_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("region_len"),
            F.count("*").cast("long").alias("n_spans"),
        )
        .select("doc_id", "region_start", "region_len", "n_spans")
    )
    if min_region_len is not None and min_region_len > k:
        out = out.filter(F.col("region_len") >= min_region_len)
    return out


def strip_duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_region_len: int | None = None,
) -> DataFrame:
    """Remove every cross-document duplicated region from the corpus —
    the APPLY step of the Lee et al. 2021 ExactSubstr dedup (their
    pipeline deletes the duplicated substrings; C4 does the same for
    boilerplate lines). All occurrences are dropped, in every doc: the
    conservative keep-one-canonical-occurrence variant needs a global
    canonical choice per span cluster and is deliberately not this
    operator (doc-level dedup_corpus already keeps canonicals; this
    one exists to strip the boilerplate TAIL from docs that survive).

    Returns (doc_id, text, n_dropped): text is rebuilt from the KEPT
    tokens — output lives in token space (lowercased, single-spaced,
    exactly the ``tokens_sql`` normalization the span index measures),
    NOT original byte offsets; n_dropped counts removed tokens. Docs
    with no duplicated regions pass through with n_dropped = 0 (their
    text still token-normalized, so the column is uniform).

    Scale: two corpus passes — one to build the span index
    (duplicated_spans: one postings shuffle + per-doc windows), one to
    apply it (a doc_id equi-join of the corpus against the per-doc
    region lists, then a narrow per-row token filter). The per-token
    region test is O(regions_per_doc) inside an interpreted lambda, so
    the kept-token array is let-bound — text and n_dropped both
    consume it, and unbound it would be filtered twice per row.
    """
    regions = duplicated_spans(
        docs, k, min_docs, id_col, text_col, min_region_len
    )
    reg = regions.groupBy("doc_id").agg(
        F.collect_list(F.struct("region_start", "region_len")).alias("_regs")
    )
    base = docs.selectExpr(
        f"`{id_col}` AS doc_id", f"{tokens_sql(f'`{text_col}`')} AS _tk"
    )
    empty = (
        "CAST(array() AS "
        "array<struct<region_start:bigint,region_len:bigint>>)"
    )
    joined = base.join(reg, "doc_id", "left").selectExpr(
        "doc_id", "_tk", f"coalesce(_regs, {empty}) AS _regs"
    )
    # i is 0-based; region_start is the 1-based token offset; the kept
    # array is let-bound (text and n_dropped both consume it); the
    # whole epilogue is one SQL string (round 16 py4j discipline)
    kept = (
        "filter(_tk, (t, i) -> NOT exists(_regs, "
        "r -> ((i + 1) >= r.region_start) AND "
        "((i + 1) < (r.region_start + r.region_len))))"
    )
    out = let_sql(
        kept,
        "kt",
        "named_struct('text', concat_ws(' ', kt), "
        "'n_dropped', CAST((size(_tk) - size(kt)) AS BIGINT))",
    )
    return joined.selectExpr("doc_id", f"{out} AS _o").selectExpr(
        "doc_id", "_o.text AS text", "_o.n_dropped AS n_dropped"
    )


def strip_duplicated_spans_raw(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_region_len: int | None = None,
) -> DataFrame:
    """``strip_duplicated_spans`` with ORIGINAL-byte fidelity: duplicated
    regions are cut out of the original text as character ranges, so the
    kept text keeps its casing, punctuation, and whitespace byte-for-
    byte — Lee et al. 2021 cut byte ranges from the raw corpus, and the
    token-normalized output of ``strip_duplicated_spans`` (lowercased,
    single-spaced) destroys that fidelity for the ~99% of text that was
    NOT duplicated (the round-10 verdict's one dedup-family gap).

    Returns (doc_id, text, n_dropped): text is the original string with
    each duplicated token region's character span removed — from the
    first character of the region's first token through the last
    character of its last token, interior whitespace included, exterior
    whitespace untouched (so cutting a mid-sentence region leaves the
    two adjacent gaps, now doubled — the cut is exactly the duplicated
    characters, nothing else). Unchanged docs pass through
    byte-identical with n_dropped = 0; n_dropped counts removed TOKENS
    (sum of region lengths), matching the token-space variant.

    How original offsets are recovered without a UDF: the span index
    tokenizes with split-on-whitespace (lowercased), so token p in the
    index is character run p of ``\\S+`` matches in the original — the
    same boundaries, case restored. With gap array g[1..n+1] =
    split(text, '\\S+') (leading whitespace first, trailing last) and
    token array t[1..n] = regexp_extract_all(text, '\\S+'):

        start(p) = sum(|g[1..p]|) + sum(|t[1..p-1]|) + 1
        end(p)   = sum(|g[1..p]|) + sum(|t[1..p]|)

    evaluated ONLY at region boundaries — two prefix-length sums per
    region over sliced arrays (O(tokens) per REGION, lambda-
    interpreted but regions per doc are few and bounded: merged
    maximal regions sit > k tokens apart, so a doc of n tokens holds
    at most n/(k+1) of them). The kept text is rebuilt from the
    O(regions) sorted cut list by ONE sequential ``aggregate`` lambda
    per doc — accumulator (prev_end, acc), each step appending the
    inter-cut substring, the finish appending the tail — entirely
    row-local: no per-cut explode, no lag window, no ordered-concat
    re-aggregation, and the document text never rides a shuffle (it
    moves through exactly one doc_id join).

    Scale: the same two corpus passes as the token-space variant
    (span index + apply join). The per-doc region lists aggregate
    FIRST, so the corpus join — and the token/gap array projection
    above it — touches only region-bearing docs (typically ~1% of a
    real corpus), never the unchanged majority; unchanged docs take
    the final left join's pass-through branch byte-identically.
    Oracle twin: ``_dedup_spans_strip_raw_sql`` replays the identical
    prefix-length arithmetic in DuckDB via the equivalent lag-window
    formulation (verified: both engines produce the same token/gap
    array layout including leading/trailing empties).
    """
    regions = duplicated_spans(
        docs, k, min_docs, id_col, text_col, min_region_len
    )
    regs = regions.groupBy("doc_id").agg(
        F.collect_list(F.struct("region_start", "region_len")).alias("_regs")
    )
    changed_docs = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        .join(regs, "doc_id")
        .selectExpr(
            "doc_id",
            "_text",
            "_regs",
            r"regexp_extract_all(_text, '\\S+', 0) AS _tks",
            r"split(_text, '\\S+') AS _gps",
        )
    )

    # the whole char-range recovery is emitted as SQL strings (round
    # 16 — one parse instead of one py4j round trip per node; the
    # Column form of this epilogue was ~800 round trips per query
    # construction, paid by both strip queries every bench run)
    def _sl(arr: str, m: str) -> str:
        # sum of lengths of the first m elements (m may be 0 -> 0)
        return (
            f"aggregate(slice({arr}, 1, {m}), CAST(0 AS BIGINT), "
            "(a, x) -> a + length(x))"
        )

    cs = f"CAST(({_sl('_gps', 'r.region_start')} + {_sl('_tks', 'r.region_start - 1')} + 1) AS BIGINT)"
    ce = (
        f"CAST(({_sl('_gps', 'r.region_start + r.region_len - 1')} + "
        f"{_sl('_tks', 'r.region_start + r.region_len - 1')}) AS BIGINT)"
    )
    cuts = (
        "array_sort(transform(_regs, r -> "
        f"named_struct('cs', {cs}, 'ce', {ce})))"
    )
    rebuilt = (
        f"aggregate({cuts}, "
        "named_struct('pe', CAST(0 AS BIGINT), 'acc', ''), "
        "(a, c) -> named_struct('pe', c.ce, 'acc', "
        "concat(a.acc, substr(_text, a.pe + 1, c.cs - a.pe - 1))), "
        "a -> concat(a.acc, substr(_text, a.pe + 1, length(_text) - a.pe)))"
    )
    n_dropped = (
        "aggregate(_regs, CAST(0 AS BIGINT), (a, r) -> a + r.region_len)"
    )
    changed = changed_docs.selectExpr(
        "doc_id", f"{rebuilt} AS _ktext", f"{n_dropped} AS _nd"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        .join(changed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_ktext"), F.col("_text")).alias("text"),
            F.coalesce(F.col("_nd"), F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


def phash_near_dup_pairs(
    hashes: DataFrame,
    max_distance: int = 7,
    n_bands: int = 8,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs over a 64-bit perceptual-hash column
    (dHash/aHash, computed upstream of Spark) by banded Hamming
    blocking: the hash splits into ``n_bands`` contiguous bit bands,
    rows agreeing on >= 1 band become candidates (grouped-bucket
    expansion, the lsh_candidate_pairs shape — never a band-key
    self-join), and candidates are kept iff their EXACT Hamming
    distance (bit_count of xor) is <= ``max_distance``.

    EXACTNESS (the oracle contract): a pair within distance d can
    disagree on at most d bands, so with d < n_bands the pigeonhole
    principle guarantees >= 1 shared band — banding finds EVERY
    qualifying pair and the result equals the all-pairs filter.
    Enforced: ``max_distance >= n_bands`` raises (the guarantee, and
    with it oracle parity, would silently break).

    Returns (media_a, media_b, distance), media_a < media_b.

    Scale shape: one narrow band projection (explode of n_bands
    structs carrying the id AND the hash, so the exact-distance
    check never joins back to the input), one shuffle keyed on
    (band, band_key), per-bucket pair expansion, and a pair-level
    groupBy to dedup multi-band collisions. ``max_bucket_size`` caps
    the only quadratic stage (a constant-color corpus would otherwise
    pool into one bucket — the lsh_candidate_pairs hygiene rule);
    NULL hashes (decode failures) are excluded up front."""
    if max_distance >= n_bands:
        raise ValueError(
            f"phash_near_dup_pairs: max_distance={max_distance} needs "
            f"more than {n_bands} bands (pigeonhole guarantee requires "
            "max_distance < n_bands) — raise n_bands or lower "
            "max_distance"
        )
    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1
    h = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_ph")
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("_ph"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = h.select("_id", "_ph", F.explode(band_arr).alias("bk")).select(
        "_id", "_ph", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    buckets = (
        bands.groupBy("band", "key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id"), F.col("_ph")))
            ).alias("_rows")
        )
        .filter(F.size("_rows") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_rows") <= max_bucket_size)
    n = F.size(F.col("_rows"))
    pairs = F.flatten(
        F.transform(
            F.col("_rows"),
            lambda x, i: F.transform(
                F.slice(F.col("_rows"), i + 2, n),
                lambda y: F.struct(
                    x["_id"].alias("media_a"),
                    y["_id"].alias("media_b"),
                    F.bit_count(x["_ph"].bitwiseXOR(y["_ph"])).alias("distance"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.media_a").alias("media_a"),
            F.col("p.media_b").alias("media_b"),
        )
        .agg(F.max("p.distance").cast("int").alias("distance"))
        .filter(F.col("distance") <= int(max_distance))
    )
