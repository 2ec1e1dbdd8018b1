"""Join operators (SURVEY.md §2.3).

The centerpiece is ``asof_align`` — a fully-relational restatement of the
reference's sequential "argmin over remaining chunks + prefix consumption"
alignment loop (reference src/transcription.py:199-224).

Derivation (why this is NOT a sequential loop):
  Let chunks c_0..c_{n-1} per file be ordered with non-decreasing end
  times e_k, and segments s_0..s_{m-1} in diarization order with end
  times t_j. The reference computes, per segment,
      upto = argmin_k |e_k - t_j|   over the REMAINING chunks
  then consumes the prefix. Let g_j be the argmin over ALL chunks
  (ties -> lowest k, matching np.argmin). One can show the consumed
  boundary obeys b_j = max(g_j, b_{j-1}+1)  (if the global nearest was
  already consumed, the nearest remaining chunk is the first remaining
  one, because |e_k - t_j| is non-decreasing for k >= g_j). Unrolling:
      b_j = j + max_{i<=j} (g_i - i)
  — a running max, i.e. a plain window function. Chunk k is then
  assigned to segment j iff b_{j-1} < k <= b_j, and segments whose
  range is empty (transcript exhausted -> reference breaks) emit no row.

Both lookups are sorted merges, not joins: g_j comes from a union of
chunk-ends and segment-ends with predecessor/successor window fills
(the nearest sorted value is always one of the two), and the chunk ->
segment assignment exploits that b_j is strictly increasing, so each
chunk's owner is the first boundary >= its index — another union +
forward fill. Cost is O((S+C) log(S+C)) per file instead of the naive
|S|x|C| pair join; files parallelize across the cluster and there is
zero driver-side iteration.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The one bound for every small side of a join (see ``small_side``), in
# bytes of rendered SQL literal: a side that renders within it rides
# inline as one parsed ``IN`` list or ``map`` literal (a join-free plan,
# an O(1) InSet probe per row); a larger one joins as a broadcast frame,
# so the expression tree and the serialized plan stay bounded.
INLINE_MAX_BYTES = 64 * 1024


def payload_bytes(df: DataFrame) -> Column:
    """Per-row payload of ``df`` in bytes: a STRING/BINARY value counts
    its encoded length (NULL: 0), any other column a fixed 8 bytes."""
    from pyspark.sql.types import BinaryType, StringType

    return sum(
        F.coalesce(F.octet_length(F.col(f"`{f.name}`")), F.lit(0))
        if isinstance(f.dataType, (StringType, BinaryType))
        else F.lit(8)
        for f in df.schema.fields
    )


def measured_pin(df: DataFrame) -> tuple[DataFrame, int, int]:
    """Eagerly pin ``df`` and return ``(pinned, payload bytes, rows)``.
    Both counts are observed metrics riding the pin's own job, so they
    are taken on the executors before any row reaches the driver."""
    from pyspark.sql import Observation

    obs = Observation()
    pinned = df.observe(
        obs,
        F.sum(payload_bytes(df)).alias("b"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return pinned, int(m["b"] or 0), int(m["n"])


def local_relation(
    spark: SparkSession, schema: StructType, columns: list
) -> DataFrame:
    """One Arrow-built local relation from column-major driver values:
    a single LocalRelation in the plan, not one py4j literal per cell."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    tbl = pa.table(list(columns), schema=to_arrow_schema(schema))
    return spark.createDataFrame(tbl, schema)


def sql_string(v: str) -> str:
    """One escaped Spark SQL string literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_literal(v, dtype) -> str:
    """One escaped SQL literal of a STRING, BIGINT or INT value."""
    name = dtype.simpleString()
    if name == "string":
        return sql_string(v)
    if name == "bigint":
        return f"{int(v)}L"
    if name == "int":
        return str(int(v))
    raise TypeError(f"small_side: no SQL literal for {name} values")


class SmallSide(NamedTuple):
    """A small relation in one of two tiers, agreeing row for row:
    ``literal`` (the rendered, comma-separated items) when inline, else
    ``frame`` (distinct rows, joined as a broadcast). ``n`` is its row
    count, or None when a DataFrame side was never run (pins off).
    A one-column side is a set; a two-column side is an (index, value)
    lookup table whose indexes must be exactly 0..n-1, because inline
    it renders as its values alone, read by position."""

    n: int | None
    literal: str | None
    frame: DataFrame | None

    def in_sql(self, key_sql: str) -> str:
        """``key IN (...)`` over a one-column inline side."""
        return f"{key_sql} IN ({self.literal})"

    def at_sql(self, index_sql: str) -> str:
        """``element_at(array(...), index + 1)`` over an inline lookup
        side: an O(1) positional read per row, where a ``map`` literal
        would scan its entries (4 cores, 4,096 entries: 681 ns/row
        against 11 ns/row for the array and 13 for a broadcast join)."""
        return f"element_at(array({self.literal}), {index_sql} + 1)"

    def mark(self, df: DataFrame, key_sql: str, name: str) -> DataFrame:
        """``df`` plus a boolean column ``name``: is ``key_sql`` in this
        one-column side. Inline: one ``IN`` expression. Join tier: a
        broadcast left join of the distinct side (a NULL key is False
        here and NULL inline; both read as "not in")."""
        if self.frame is None:
            return df.withColumn(name, F.expr(self.in_sql(key_sql)))
        tmp = f"_k{name}"
        hits = self.frame.select(
            F.col(self.frame.columns[0]).alias(tmp), F.lit(True).alias(name)
        )
        return (
            df.join(F.broadcast(hits), F.expr(key_sql) == F.col(tmp), "left")
            .withColumn(name, F.col(name).isNotNull())
            .drop(tmp)
        )


def small_side(
    spark: SparkSession, side, schema: str | None = None
) -> SmallSide:
    """The one "inline a small side as a literal, else broadcast it"
    seam, deciding the tier by ``INLINE_MAX_BYTES``.

    ``side`` is either driver-held rows (tuples, with a DDL ``schema``)
    or a DataFrame. Driver-held rows are rendered and take the inline
    tier if the literal fits, else become one ``local_relation``; no
    Spark job runs either way. A DataFrame side is pinned by
    ``measured_pin`` (one job): above the bound in payload bytes it
    stays on the executors and the pinned frame is the join side;
    otherwise it is collected and decided like driver-held rows. Under
    ``pinning_disabled()`` a DataFrame side takes the join tier without
    running anything, so plan tooling sees the lineage.

    NULL keys never equal a probe key, so they are dropped from the
    literal; an empty side is inline with ``n == 0`` (callers handle it
    before rendering ``IN ()``)."""
    from .pinning import pinning_is_disabled

    pinned = None
    if isinstance(side, DataFrame):
        if pinning_is_disabled():
            return SmallSide(None, None, side.distinct())
        pinned, nbytes, n = measured_pin(side)
        if nbytes > INLINE_MAX_BYTES:
            return SmallSide(n, None, pinned.distinct())
        st = pinned.schema
        rows = pinned.collect() if n else []
    else:
        st = StructType.fromDDL(schema)
        rows = side
    rows = sorted({tuple(r) for r in rows if r[0] is not None})
    vtype = st.fields[-1].dataType
    literal = ",".join(_sql_literal(r[-1], vtype) for r in rows)
    if len(literal.encode()) <= INLINE_MAX_BYTES:
        return SmallSide(len(rows), literal, None)
    if pinned is not None:
        return SmallSide(len(rows), None, pinned.distinct())
    cols = [[r[i] for r in rows] for i in range(len(st.fields))]
    return SmallSide(len(rows), None, local_relation(spark, st, cols))


def asof_align(
    chunks: DataFrame,
    segments: DataFrame,
    file_col: str = "file",
    chunk_order: str = "chunk_id",
    seg_order: str = "seg_id",
) -> DataFrame:
    """Align transcript chunks to diarization segments.

    chunks:   (file, <chunk_order>, text, t_start, t_end, confidence)
              t_end must be non-decreasing in chunk order within a file.
    segments: (file, <seg_order>, speaker, spk_end)

    Returns one row per segment that consumed >= 1 chunk:
      (file, seg_id, speaker, text, t_start, t_end, confidence)
    with text = space-joined stripped chunk texts in chunk order,
    t_start = first assigned chunk's start, t_end = last assigned
    chunk's end, confidence = mean(coalesce(confidence, 1.0))
    (reference src/transcription.py:206-218).

    Null chunk end times are dropped first (reference :200 builds
    end_timestamps over non-null ends only); null SEGMENT end times are
    dropped symmetrically — unfiltered, a NULL spk_end resolves through
    the nulls-first/nulls-last window fills to the file's SMALLEST
    chunk end, silently stealing a chunk from the next segment and
    shifting every later segment's text by one.

    Expression transport (round 16, the minhash_signature_sql lesson): the
    whole alignment is emitted as selectExpr/SQL strings — the Column
    API costs one py4j round trip per node, and this operator's ~1500
    nodes measured ~0.9 s of pure driver chatter per construction at
    bench scale. The parsed expressions are semantically identical
    (same windows, frames, struct fills, casts); the doubles are cast
    explicitly because bare SQL ``1.0`` parses as decimal.
    """
    segments = segments.filter("spk_end IS NOT NULL")
    # the file->_file rename lives in its OWN projection ABOVE the
    # row_number window: alias-aware output partitioning rewrites
    # hash(file) -> hash(_file) only when the alias sits directly over
    # the exchange's output — fused into the window projection, the
    # partitioning dies at the rename and the merged union below pays
    # a fourth exchange (measured: plan_guard caught Exchange 3 -> 4)
    c = chunks.filter("t_end IS NOT NULL").selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY `{file_col}` "
        f"ORDER BY `{chunk_order}`) - 1 AS _k",
    ).selectExpr(
        f"`{file_col}` AS _file",
        "_k",
        "trim(text) AS _text",
        "t_start AS _t0",
        "t_end AS _t1",
        "coalesce(confidence, CAST(1.0 AS DOUBLE)) AS _conf",
    )

    # preserve the caller's seg-id dtype through the unions below — a
    # hard cast to long would null out string/decimal seg ids
    seg_sql = segments.schema[seg_order].dataType.simpleString()
    t0_sql = c.schema["_t0"].dataType.simpleString()
    t1_sql = c.schema["_t1"].dataType.simpleString()
    s = segments.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY `{file_col}` "
        f"ORDER BY `{seg_order}`) - 1 AS _j",
    ).selectExpr(
        f"`{file_col}` AS _sfile",
        "_j",
        f"`{seg_order}` AS _seg_id",
        "speaker",
        "spk_end AS _te",
    )

    # g_j: globally nearest chunk per segment (ties -> lowest chunk index,
    # matching np.argmin first-match). NOT an |S|x|C| pair join — since
    # chunk ends are non-decreasing, the nearest end is either the
    # predecessor (last end <= te) or the successor (first end > te), so
    # a sorted merge (union + window fills) finds it in O((S+C) log) per
    # file. Tie (equidistant) -> predecessor, whose index is smaller;
    # equal end values -> the run's first index, resolved INSIDE the
    # fills by carrying (end, index) structs: max(struct(e, -k)) picks
    # the largest end then the smallest index, min(struct(e, k)) the
    # smallest end then the smallest index — no separate min-k-per-end
    # aggregate and no join-back needed (that branch re-scanned the
    # chunk table and cost an extra exchange + window + two aggregates
    # + a broadcast join).
    merged = c.selectExpr(
        "_file",
        "_t1 AS _t",
        "0 AS _typ",
        "_t1 AS _ce",
        "_k AS _ck",
        "CAST(NULL AS BIGINT) AS _j",
        f"CAST(NULL AS {seg_sql}) AS _seg_id",
        "CAST(NULL AS STRING) AS speaker",
    ).unionByName(
        s.selectExpr(
            "_sfile AS _file",
            "_te AS _t",
            "1 AS _typ",
            f"CAST(NULL AS {t1_sql}) AS _ce",
            "CAST(NULL AS BIGINT) AS _ck",
            "_j",
            "_seg_id",
            "speaker",
        )
    )
    # chunks sort before segments at equal time (_typ 0 < 1), so an
    # end == te lands on the predecessor side (distance 0, lowest index).
    #
    # Both fills use GROWING frames (unboundedPreceding..currentRow),
    # which Spark evaluates incrementally in O(n); the successor comes
    # from a reverse-ordered growing frame because a
    # (offset, unboundedFollowing) frame re-scans to the partition end
    # for every row — O(n^2), measured 74s on a single 30k-row file.
    # The segment's own row holds a null _ce, so including currentRow in
    # the reverse frame is harmless, and equal-time chunks sort after
    # the segment in reverse order, keeping the successor strictly later.
    # Chunk-only (e, k) structs — null on segment rows so max/min skip
    # them, like last(ignorenulls) did for the scalar fills. -_ck is
    # safe: _k is a row_number-derived index (>= 0, far from overflow).
    grow = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    pred = (
        "max(CASE WHEN _typ = 0 THEN named_struct('e', _ce, 'nk', -_ck) END)"
        f" OVER (PARTITION BY _file ORDER BY _t, _typ {grow})"
    )
    succ = (
        "min(CASE WHEN _typ = 0 THEN named_struct('e', _ce, 'k', _ck) END)"
        f" OVER (PARTITION BY _file ORDER BY _t DESC, _typ DESC {grow})"
    )
    # segments in chunk-less files have null pred AND succ -> null _g
    # -> dropped by the filter, matching the reference's no-transcript
    # break (previously an inner join against first_k did the drop)
    nearest = (
        merged.selectExpr(
            "_file", "_j", "_seg_id", "speaker", "_t", "_typ",
            f"{pred} AS _pred", f"{succ} AS _succ",
        )
        .filter("_typ = 1")
        .selectExpr(
            "_file",
            "_j",
            "_seg_id",
            "speaker",
            "CASE WHEN _pred IS NULL THEN _succ.k"
            " WHEN _succ IS NULL THEN -_pred.nk"
            " WHEN (_t - _pred.e) <= (_succ.e - _t) THEN -_pred.nk"
            " ELSE _succ.k END AS _g",
        )
        .filter("_g IS NOT NULL")
    )

    # b_j = j + running max(g_i - i): consumed-prefix boundary per segment.
    bounds = nearest.selectExpr(
        "*",
        f"_j + max(_g - _j) OVER (PARTITION BY _file ORDER BY _j {grow})"
        " AS _b",
    )

    # b is strictly increasing (b_j - b_{j-1} >= 1), so the segment
    # ranges (prev_b, b] tile the chunk indices contiguously and each
    # chunk's owner is the first segment with b >= k — again a sorted
    # merge, not a range join. Chunks past the last boundary stay
    # unassigned (reference: leftovers after the final segment are
    # dropped), as are chunk-less segments (empty range -> no rows).
    bm = c.selectExpr(
        "_file",
        "_k AS _pos",
        "0 AS _typ",
        "_k",
        "_text",
        "_t0",
        "_t1",
        "_conf",
        "CAST(NULL AS BIGINT) AS _j",
        f"CAST(NULL AS {seg_sql}) AS _seg_id",
        "CAST(NULL AS STRING) AS speaker",
    ).unionByName(
        bounds.selectExpr(
            "_file",
            "_b AS _pos",
            "1 AS _typ",
            "CAST(NULL AS BIGINT) AS _k",
            "CAST(NULL AS STRING) AS _text",
            f"CAST(NULL AS {t0_sql}) AS _t0",
            f"CAST(NULL AS {t1_sql}) AS _t1",
            "CAST(NULL AS DOUBLE) AS _conf",
            "_j",
            "_seg_id",
            "speaker",
        )
    )
    # same O(n) reverse-growing-frame trick as the nearest-end fill: the
    # owning boundary (first bound with b >= k in forward order) is the
    # last non-null in reverse order; at equal pos the bound sorts first
    # in reverse, so a chunk exactly on a boundary is assigned to it.
    # One struct-valued last() instead of three scalar fills.
    owner = (
        "last(CASE WHEN _typ = 1 THEN"
        " named_struct('_j', _j, '_seg_id', _seg_id, 'speaker', speaker)"
        " END, true)"
        f" OVER (PARTITION BY _file ORDER BY _pos DESC, _typ DESC {grow})"
    )
    assigned = (
        bm.selectExpr("*", f"{owner} AS _own")
        .filter("_typ = 0 AND _own._j IS NOT NULL")
        .selectExpr(
            "_file AS _sfile",
            "_own._j AS _j",
            "_own._seg_id AS _seg_id",
            "_own.speaker AS speaker",
            "_k",
            "_text",
            "_t0",
            "_t1",
            "_conf",
        )
    )

    return (
        assigned.groupBy("_sfile", "_j", "_seg_id", "speaker")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(_k, _text))), x -> x._text), ' ')"
            ).alias("text"),
            F.expr("min_by(_t0, _k)").alias("t_start"),
            F.expr("max_by(_t1, _k)").alias("t_end"),
            F.avg("_conf").alias("confidence"),
        )
        .selectExpr(
            f"_sfile AS `{file_col}`",
            "_seg_id AS seg_id",
            "speaker",
            "text",
            "t_start",
            "t_end",
            "confidence",
        )
    )


def anti_join_ledger(
    candidates: DataFrame, ledger: DataFrame, key: str = "key"
) -> DataFrame:
    """Skip already-processed keys (reference src/aws_bucket.py:180).

    left_anti against the ledger. No broadcast hint: a ledger grows
    without bound (every key ever processed), so AQE must pick the
    strategy — broadcast while it fits, shuffle join after. At 100 TB
    prefer the streaming checkpoint, which tracks files natively.
    """
    return candidates.join(ledger.select(key).distinct(), key, "left_anti")


def broadcast_lookup(
    facts: DataFrame, dim: DataFrame, key: str, how: str = "inner"
) -> DataFrame:
    """Dict-lookup join (reference src/embedding_engine.py:82,96-99) as an
    explicit broadcast hash join — no shuffle of the fact side."""
    return facts.join(F.broadcast(dim), key, how)


def _contains_map(dt) -> bool:
    """True when ``dt`` is or nests a MapType anywhere (array element,
    struct field, map key/value) — the exact recursion xxhash64 uses to
    reject unhashable inputs, so the salted-join column filter and the
    hash agree on every schema."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


# Joins where replicating the dim side `salt` times cannot duplicate
# output rows: every dim row's copies either all match the same fact
# sub-keys (inner/left/semi) or are never emitted on their own.
# left_anti is also safe: the dim copy with the fact row's own salt
# exists iff the key exists at all, so the anti result is exactly
# facts-without-key — dim replication can't duplicate fact rows.
_SALT_SAFE_HOW = {
    "inner",
    "left",
    "leftouter",
    "left_outer",
    "leftsemi",
    "left_semi",
    "leftanti",
    "left_anti",
}


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: fact keys salted into ``salt`` sub-keys,
    the dimension side replicated once per salt value.

    For hot keys (one key = one straggler task in a plain shuffle join)
    this spreads each key over ``salt`` reducers at the cost of a
    ``salt``x dimension replication — the classic remedy when AQE's
    skew-join split isn't available (e.g. the skewed side feeds an
    aggregation that blocks the AQE rewrite). Keys must be non-null on
    the fact side (null never matches an equi-join anyway).

    ``how`` is restricted to fact-preserving joins (inner/left/
    left_semi/left_anti — the anti form covers the skewed ledger skip-
    join): any join that can emit unmatched DIM rows (right/full) would
    emit each one ``salt`` times because the dim side is replicated —
    a silent row duplication, so it raises.
    """
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in _SALT_SAFE_HOW}:
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched dim rows "
            f"{salt}x (dim side is replicated per salt); use one of "
            f"{sorted(_SALT_SAFE_HOW)} or an AQE skew join instead"
        )
    # deterministic salt — pmod(xxhash64(row)), NOT rand(): rand()
    # re-evaluates over a nondeterministically-ordered input when a
    # stage recomputes after a shuffle-fetch failure (the
    # indeterminate-stage class), re-dealing salts so the retried join
    # can double-count or lose rows; a full-row hash deals identically
    # on every attempt (exact-duplicate rows share a salt — harmless
    # unless a hot key is also exactly duplicated, which no row-level
    # salt could split anyway). Map columns aren't hashable — excluded
    # RECURSIVELY (xxhash64's own MapType rejection walks nested types,
    # so an array<map<...>> or struct-wrapped map would pass a naive
    # top-level check and blow up at plan time); if every column nests
    # a map the key itself is the fallback (key is an equi-join key,
    # so it can never be a map).
    hashable = [
        c
        for c in facts.schema.fields
        if not _contains_map(c.dataType)
    ]
    hashable = [c.name for c in hashable]
    f = facts.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in (hashable or [key])]),
            F.lit(int(salt)),
        ).cast("int"),
    )
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return f.join(d, [key, "_salt"], how).drop("_salt")


def hot_salted_count_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    count_col: str,
    salt_src: str | Sequence[str],
    hot_threshold: int = 4096,
    n_salts: int = 16,
    null_safe: bool = False,
    max_hot_keys: int = 100_000,
    hot_hashes_override: Sequence[int] | None = None,
) -> DataFrame:
    """Inner equi-join of a big ``probe`` against a per-key-UNIQUE
    ``build`` where ONLY the hot keys are salted — the deterministic
    skew remedy for aggregate-then-join-back operators (dedup_exact,
    span_hits) whose hot keys AQE's skew split cannot be trusted to
    catch.

    Why not just AQE: OptimizeSkewedJoin detects skew in shuffle
    BYTES, and a hot key's probe rows are maximally compressible
    (constant key, often sequential ids) — measured in
    tools/scale_probe.py ``exact_skew``: a 10%-of-corpus identical-
    digest partition compressed BELOW the median partition's bytes and
    was never split, even at a 1k threshold. Row-skew without
    byte-skew is invisible to AQE; salting splits it by construction.

    Why not ``salted_join``: that replicates the ENTIRE dim per salt —
    fine for a broadcast-scale dim, ruinous for a vocabulary-sized
    build (the dedup_exact groups frame is one row per distinct
    digest; 16x that can exceed the probe itself). Here only keys with
    ``count_col >= hot_threshold`` replicate.

    How the probe learns hotness (round 11; was a broadcast-left-join):
    the hot keys are read once from the PINNED aggregate at
    plan-construction time as ``xxhash64(key)`` longs — a driver read
    bounded by ``max_hot_keys`` (the call raises past the cap with
    guidance to raise ``hot_threshold``, instead of the round-10
    failure mode: an unbounded forced broadcast silently OOMing the
    driver). Both sides then test the SAME ``xxhash64(key) IN <set>``
    predicate (an InSet over longs, type-agnostic — works for string
    digests and struct span keys alike; xxhash64(NULL) is the constant
    seed, so the null_safe NULL group is consistent too). A cold key
    whose hash collides with a hot one is merely salted on BOTH sides
    — results stay exact; the only effect is one extra replicated
    build row per ~2^-64 collision. With NO hot keys (the common case)
    the whole operator degenerates to a plain equi-join on a constant
    salt: no broadcast exchange, no per-probe-row hot-set probe — that
    broadcast-left-join overhead was the round-10 fixed cost flagged
    on dedup_exact.

    Contract: ``build`` has exactly one row per ``key`` carrying
    ``count_col`` (a monotone proxy for probe rows per key — group
    size, distinct-doc count); at most total_probe_rows/hot_threshold
    keys can be hot, so size the threshold (and, for pathological
    corpora, ``max_hot_keys``) to the corpus. ``salt_src`` names a
    probe column — or several, hashed together — whose values spread a
    hot key's rows. The per-task bound (max rows/task per hot key ~
    count/n_salts) holds only if salt_src is high-cardinality WITHIN
    each hot key: span_hits passes (doc_id, pos) because its postings
    count is hot precisely under within-doc repetition, where doc_id
    alone is one value and would put the whole log-spam document on
    one reducer. ``null_safe`` joins NULL keys as equal (dedup_exact's
    md5(NULL) group). Output: probe columns + build's other columns;
    bookkeeping columns are dropped.

    ``build`` is pinned (an EAGER localCheckpoint on the default path —
    round-11 verdict item 5 folded the bounded hot-set read into the
    build materialization, so the aggregation lineage — often a full
    corpus pass — runs as ONE job whose checkpointed output serves the
    hot read AND the executed join build; the lazy-pin + filter-collect
    pair it replaced submitted the same stages twice).
    The pinned frame is the per-key aggregate: key + counts, orders of
    magnitude narrower than the probe it summarizes. Note the
    construction-time materialization makes this operator EAGER (it
    runs the build's jobs when called, not at the first downstream
    action) — bench.py times construction+action together, so the cost
    stays measured. The override / plan-inspection paths keep the lazy
    ``pin`` (no collect happens there, so there is nothing to fold).

    How the hot set rides back into the plan: through ``small_side``
    (the package's one literal-or-broadcast seam). A hot set whose
    literal fits ``INLINE_MAX_BYTES`` is an ``xxhash64(key) IN
    (<literals>)`` predicate (Catalyst compiles it to an O(1) InSet) —
    the join-free common case. A larger one (up to ``max_hot_keys``
    64-bit literals would otherwise ship into BOTH sides' expression
    trees) becomes one Arrow-built hot-hash relation, and hotness is a
    broadcast LEFT join + null test on each side. Same results either
    way.

    ``hot_hashes_override`` injects a synthetic hot-hash set and skips
    the construction-time read entirely — the plan-inspection seam
    (tools/plan_guard.py guards the salted plan shapes through it;
    under ``pinning_disabled`` the default path can only ever show the
    cold plan).
    """
    from .pinning import pin, pinning_is_disabled

    salt_cols = [salt_src] if isinstance(salt_src, str) else list(salt_src)
    spark = probe.sparkSession
    if hot_hashes_override is not None:
        build = pin(build)
        hot_rows = [(int(v),) for v in hot_hashes_override]
    elif pinning_is_disabled():
        # plan-inspection context (plan_guard / make_explain): the
        # construction-time hot-key read would execute the build's full
        # aggregation lineage — exactly what pinning_disabled promises
        # NOT to do. Skip it and build the cold-path plan (no hot keys
        # -> plain equi-join on a constant salt), which is also the
        # runtime plan for every gate-scale input.
        build = pin(build)
        hot_rows = []
    else:
        # Fold the build materialization and the hot-set read into ONE
        # aggregation pass (round-11 verdict item 5): an EAGER local
        # checkpoint runs every stage of the build's lineage in a single
        # job and pins the result; the bounded hot read below then scans
        # only the checkpointed per-key aggregate (trivial next to the
        # aggregation). The hot set is at most ``max_hot_keys`` 8-byte
        # rows, so this bounded read needs no executor-side byte count.
        build = build.localCheckpoint(eager=True)
        hot_rows = (
            build.filter(F.col(count_col) >= hot_threshold)
            .select(F.xxhash64(F.col(key)).alias("_hx"))
            .limit(max_hot_keys + 1)
            .collect()
        )
    if len(hot_rows) > max_hot_keys:
        raise ValueError(
            f"hot_salted_count_join: more than {max_hot_keys} keys have "
            f"{count_col} >= {hot_threshold}; the hot-key set must stay "
            "driver-resident. Raise hot_threshold (each hot key already "
            f"carries >= {hot_threshold} probe rows, so fewer keys can "
            "be hot) or max_hot_keys if the driver has the memory."
        )
    if hot_rows:
        hot = small_side(spark, hot_rows, "_hx bigint")
        hot_key = f"xxhash64(`{key}`)"
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salts)
        ).cast("int")
        salted_probe = (
            hot.mark(probe, hot_key, "_hot")
            .withColumn("_salt", F.when(F.col("_hot"), salt).otherwise(0))
            .drop("_hot")
        )
        salts = F.when(
            F.col("_hot"), F.sequence(F.lit(0), F.lit(n_salts - 1))
        ).otherwise(F.array(F.lit(0)))
        salted_build = (
            hot.mark(build, hot_key, "_hot")
            .withColumn("_salt", F.explode(salts))
            .drop("_hot")
        )
    else:
        salted_probe = probe.withColumn("_salt", F.lit(0))
        salted_build = build.withColumn(
            "_salt", F.explode(F.array(F.lit(0)))
        )
    if not null_safe:
        return salted_probe.join(salted_build, [key, "_salt"], "inner").drop("_salt")
    b_cols = [c for c in build.columns if c != key]
    joined = salted_probe.alias("_sp").join(
        salted_build.alias("_sb"),
        F.col(f"_sp.{key}").eqNullSafe(F.col(f"_sb.{key}"))
        & (F.col("_sp._salt") == F.col("_sb._salt")),
        "inner",
    )
    return joined.select(
        *[F.col(f"_sp.{c}") for c in probe.columns],
        *[F.col(f"_sb.{c}") for c in b_cols],
    )


def running_sum(
    df: DataFrame,
    order_cols: list,
    weight_col: str | None = None,
    group_cols: Sequence[str] = (),
    num_parts: int | None = None,
) -> DataFrame:
    """``df`` plus ``_cum``: the inclusive running total (BIGINT) of
    ``weight_col`` in ``order_cols`` order — 1 per row when
    ``weight_col`` is None — restarting for each ``group_cols`` value
    (NULL is a group of its own). The one distributed prefix sum under
    ``global_index``, ``packing.pack_sequences`` and the
    ``sampling.select_token_budget`` cuts.

    ``sum() OVER (ORDER BY ...)`` with no PARTITION BY funnels every row
    through a single task (Exchange SinglePartition). Instead: range-
    partition on ``group_cols + order_cols`` into ``num_parts`` (default
    ``spark.sql.shuffle.partitions`` when numeric — it can read 'auto'
    under AQE — else the input's parallelism), run ONE stats collect of
    the weight per (partition, group) — at most ``num_parts + n_groups -
    1`` rows, since groups are contiguous under the range exchange — and
    add each row's preceding-partition offset to a window running sum
    partitioned by (partition, group).

    The offsets ride back into the plan as a small side. Ungrouped they
    are dense per partition and go through ``small_side``: an
    ``element_at(array(...), _part + 1)`` literal while it fits
    ``INLINE_MAX_BYTES`` (several thousand partitions), else a broadcast
    join of the (partition, offset) relation, so the plan size stays
    independent of the partition count. Grouped they are one
    ``local_relation`` joined null-safe on (partition, group).

    The range exchange is pinned with a LAZY local checkpoint (a direct
    call, not ``pinning.pin``, so pins-off runs keep it too): the stats
    collect and the query must read the same partition ids, and the
    persist rides the stats scan instead of an extra full-data pass.

    Honest plan note: this costs TWO full-data exchanges of ``df`` — the
    range exchange (inside the checkpoint job) plus a hash exchange on
    the window partition keys, which EnsureRequirements inserts because
    the checkpointed scan can no longer prove partition-id clustering.
    Both move only the frame being summed, so callers should pass the
    NARROW projection (ids + weights, ~16 bytes/row; a 10^10-row corpus
    shuffles ~160 GB twice, not the corpus) and join payloads back by id.

    The stats job also validates ``weight_col``: negative, NULL or
    non-integral weights raise. Negatives and NULLs would corrupt every
    later offset (sum() skips a NULL, so successors shift as if it
    weighed 0 while the row itself gets a NULL total); fractional
    weights would truncate differently on the two offset tiers, making
    totals depend on the partition count.
    """
    spark = df.sparkSession
    if not num_parts:
        conf = spark.conf.get("spark.sql.shuffle.partitions", "")
        num_parts = (
            int(conf)
            if conf.isdigit()
            else (df.rdd.getNumPartitions() or spark.sparkContext.defaultParallelism)
        )
    keys = ["_part", *group_cols]
    parted = (
        df.repartitionByRange(num_parts, *group_cols, *order_cols)
        .withColumn("_part", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = F.col(weight_col) if weight_col else F.lit(1)
    stats = (
        parted.groupBy(*keys)
        .agg(
            F.sum(w).alias("_w"),
            F.min(w).alias("_m"),
            (F.count("*") - F.count(w)).alias("_nulls"),
            F.sum((w != F.floor(w)).cast("int")).alias("_frac"),
        )
        .collect()
    )
    for what, hit, hint in (
        ("negative", lambda r: r["_m"] is not None and r["_m"] < 0,
         "weights must be >= 0"),
        ("NULL", lambda r: r["_nulls"],
         "coalesce them to 0 explicitly if that is the intended weight"),
        ("non-integral", lambda r: r["_frac"],
         "offsets are integer counts and fractional weights would silently "
         "truncate — round or cast the weight column explicitly"),
    ):
        bad = sorted({r["_part"] for r in stats if hit(r)})
        if bad:
            raise ValueError(
                f"running_sum: {what} values in {weight_col!r} "
                f"(partitions {bad[:5]}); {hint}"
            )
    weights = {tuple(r[k] for k in keys): int(r["_w"] or 0) for r in stats}
    if weights and not group_cols:  # dense: the inline tier reads by position
        last = max(p for p, in weights)
        weights = {(p,): weights.get((p,), 0) for p in range(last + 1)}
    acc: dict[tuple, int] = {}
    offs = []
    for k in sorted(weights, key=lambda k: k[0]):
        offs.append((*k, acc.get(k[1:], 0)))
        acc[k[1:]] = acc.get(k[1:], 0) + weights[k]
    off = F.lit(0)
    if offs and not group_cols:
        side = small_side(spark, offs, "_part int, _poff bigint")
        if side.frame is None:
            off = F.expr(side.at_sql("_part"))
        else:
            parted, off = parted.join(F.broadcast(side.frame), "_part"), F.col("_poff")
    elif offs:
        schema = parted.select(*keys).schema.add("_goff", "long", False)
        rel = local_relation(spark, schema, [list(c) for c in zip(*offs)])
        cond = F.col("_l._part") == F.col("_r._part")
        for c in group_cols:
            cond = cond & F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}"))
        parted = (
            parted.alias("_l")
            .join(F.broadcast(rel.alias("_r")), cond)
            .select("_l.*", F.col("_r._goff").alias("_goff"))
        )
        off = F.col("_goff")
    win = (
        Window.partitionBy("_part", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # row_number, not sum(1): it counts the same and is never NULL, so a
    # join on the index infers no isnotnull filter
    total = F.sum(w).over(win) if weight_col else F.row_number().over(win)
    return parted.withColumn("_cum", (off + total).cast("long")).drop(
        "_part", "_poff", "_goff"
    )


def global_index(
    df: DataFrame,
    order_cols: list,
    index_col: str = "_rn",
    num_parts: int | None = None,
) -> DataFrame:
    """1-based global row index in ``order_cols`` order — distributed:
    ``running_sum`` with no weight (1 per row), ``_cum`` renamed to
    ``index_col``. No single-partition stage anywhere in the plan; see
    ``running_sum`` for the plan-shape and shuffle-volume notes."""
    return running_sum(df, order_cols, num_parts=num_parts).withColumnRenamed(
        "_cum", index_col
    )


def positional_zip_join(
    left: DataFrame,
    right: DataFrame,
    left_order: list | None = None,
    right_order: list | None = None,
) -> DataFrame:
    """Pair rows by position (reference src/main.py:75 ``zip``).

    Both sides get a distributed global index (``global_index``, a
    ``running_sum`` of 1 per row — no single-partition stage anywhere
    in the plan) and are equi-joined on
    it. Order defaults to a '_ord' column on each side; callers who
    have a natural key should join on it instead (carrying the key
    beats positional pairing at scale).

    The two sides' indexes are INDEPENDENT (separate inputs, separate
    range exchanges), but each one runs construction jobs (the range
    exchange and the stats collect) — built sequentially, the second side's jobs wait for
    the first side's stragglers. Build them on ``pinning.construct_all``:
    same plans, same results, the two materializations just overlap,
    and the caller's job group and description reach every job either
    side fires.
    """
    from .pinning import construct_all

    l, r = construct_all(
        lambda: global_index(
            left, left_order if left_order is not None else ["_ord"]
        ),
        lambda: global_index(
            right, right_order if right_order is not None else ["_ord"]
        ),
    )
    if "_ord" in l.columns and "_ord" in r.columns:
        r = r.withColumnRenamed("_ord", "_ord_r")
    return l.join(r, "_rn", "inner")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    t_col: str,
    lo_col: str,
    hi_col: str,
    keys: list[str] | None = None,
    bucket_seconds: int = 600,
) -> DataFrame:
    """Point-in-interval join (t in [lo, hi)) as a bucketed EQUI-join —
    the scale-safe formulation of a range/theta join.

    Spark plans a bare `t BETWEEN lo AND hi` predicate as a
    BroadcastNestedLoopJoin (every point against every interval — O(n*m)
    and only legal while one side fits in memory). Bucketing restores
    hash-join shape: each point lands in its time bucket; each interval
    explodes into the buckets it covers; the equi-join on (keys...,
    bucket) produces candidates and the exact predicate filters them.
    A matching pair meets in exactly ONE bucket (the point's), so no
    dedup step is needed.

    Cost: shuffle keyed on (keys..., bucket); the interval side expands
    by ~span/bucket_seconds rows — size ``bucket_seconds`` near the
    typical interval span so the expansion stays a small constant.
    Timestamps are compared at full microsecond precision; bucketing
    (seconds-truncated, monotonic) only generates candidates.
    """
    keys = keys or []
    # "_b" is the internal bucket key; silently overwriting (then
    # dropping) a real user column of that name would corrupt output
    for side, df in (("points", points), ("intervals", intervals)):
        if "_b" in df.columns:
            raise ValueError(
                f"interval_join: {side} already has a '_b' column, which "
                "collides with the internal bucket key — rename it first"
            )
    p_b = F.floor(F.col(t_col).cast("double") / bucket_seconds)
    pts = points.withColumn("_b", p_b.cast("long"))
    span = F.sequence(
        F.floor(F.col(lo_col).cast("double") / bucket_seconds).cast("long"),
        F.floor(F.col(hi_col).cast("double") / bucket_seconds).cast("long"),
    )
    ivs = intervals.withColumn("_b", F.explode(span))
    out = pts.join(ivs, [*keys, "_b"]).filter(
        (F.col(t_col) >= F.col(lo_col)) & (F.col(t_col) < F.col(hi_col))
    )
    return out.drop("_b")
