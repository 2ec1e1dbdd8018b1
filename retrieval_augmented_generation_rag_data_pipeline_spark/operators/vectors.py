"""Vector operators (SURVEY.md §2.3 J6, §1.1 D6).

Replaces the reference's FAISS IndexFlatIP + pickle sidecar
(reference src/embedding_engine.py:15-30,74-99) with relational operators
over an ARRAY<FLOAT/DOUBLE> column:

- exact brute-force top-k (IndexFlatIP semantics — exact inner product)
  as a broadcast-join + per-query window top-k;
- sign-LSH bucketing as the approximate scale path (at 100 TB the
  bucket join replaces the O(n*m) cross join; candidates are reranked
  exactly within buckets).

All arithmetic stays JVM-side (higher-order functions, codegen) — no
Python UDFs in the hot path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.binding import let_sql
from ..functions.hashing import hyperplane_component


def dot_sql(a: str, b: str) -> str:
    """Sequential double-precision dot product of two array references
    (deterministic fold order — bit-identical to the DuckDB oracle
    fragment), ONE parse; shared by every ANN scorer's hot projection.

    Guarded against silent length mismatch: zip_with null-pads the
    shorter array, which would make the whole sum NULL and quietly rank
    every candidate arbitrarily — assert_true turns that into a loud
    error instead. The guard term comes FIRST in the sum: Spark's
    null-safe Add short-circuits when the left operand is NULL, and a
    mismatch always NULLs the aggregate, so ``raw + guard`` would never
    evaluate the assertion (the round-5 advisory found exactly that dead
    guard). A NULL input vector is explicitly allowed through and yields
    a NULL dot (NULL-in -> NULL-out), matching pre-guard behavior.
    """
    guard = (
        f"coalesce(CAST(assert_true((({a} IS NULL) OR ({b} IS NULL)) OR "
        f"(size({a}) = size({b})), 'dot(): vector length mismatch') "
        "AS DOUBLE), CAST(0.0 AS DOUBLE))"
    )
    raw = (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
    )
    return f"({guard} + {raw})"


def l2_norm_sql(a: str) -> str:
    """Euclidean norm of an array reference (sequential double fold)."""
    return (
        f"sqrt(aggregate(transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v))"
    )


def l2_normalize_sql(a: str) -> str:
    """L2-normalize an array expression (reference normalize_embeddings=True
    at src/embedding_engine.py:20; torch F.normalize at
    src/transcription.py:187).

    Both the input array and its norm are let-bound
    (functions.binding.let_sql): the norm is referenced inside the
    transform lambda, and HOF lambdas run interpreted (no subexpression
    elimination), so an inline norm would be re-aggregated once PER
    ELEMENT — O(dim^2) per row; the array itself is referenced twice
    (norm + transform), which doubles expensive inputs like the
    mock-embed md5 component array.

    try_divide: a zero vector has norm 0 and a bare per-element
    division aborts the job under Spark 4's default ANSI mode; the
    normalized form of a zero vector is all-NULL (undefined direction).
    """
    scaled = "transform(arr, x -> try_divide(CAST(x AS DOUBLE), n))"
    return let_sql(a, "arr", let_sql(l2_norm_sql("arr"), "n", scaled))


def _topk_per_query(scored, corpus_id: str, k: int, score_col: str = "sim"):
    """Shared per-query top-k tail: rank within query by score desc,
    tie-break lowest corpus id, keep k. One definition so a tie-break
    or column change can never drift between the ANN variants.
    Emitted as SQL strings (round 16 py4j discipline)."""
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id ORDER BY "
            f"`{score_col}` DESC, `{corpus_id}` ASC) AS rank",
        )
        .filter(f"rank <= {int(k)}")
        .selectExpr("query_id", f"`{corpus_id}`", f"`{score_col}`", "rank")
    )


def knn_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k similarity join (reference FAISS IndexFlatIP search,
    src/embedding_engine.py:24-30).

    queries is broadcast (the small side by construction — a query batch);
    the corpus streams through without shuffling, each partition scoring
    locally; the only shuffle is the per-query top-k window, whose input
    was already cut to k rows per (query, partition) by a partial top-k.
    Deterministic tie-break: higher sim first, then lower corpus id.

    The corpus side routes through ``ensure_parallelism`` (round-15):
    scoring is |Q| interpreted dot folds per corpus row, exactly the
    compute-bound shape a one-file local scan single-threads; a no-op
    on already-split inputs, so at scale the scan's own parallelism
    stands.
    """
    from ..session import ensure_parallelism

    q = queries.selectExpr(
        f"`{query_id}` AS query_id", f"`{vec_col}` AS _qv"
    )
    c = ensure_parallelism(corpus).selectExpr(
        f"`{corpus_id}` AS `{corpus_id}`", f"`{vec_col}` AS _cv"
    )
    if metric == "cosine":
        # norms depend on ONE side each — an inline per-pair cosine
        # (dot_sql over l2_norm_sql * l2_norm_sql) would re-derive both
        # inside the O(|Q|x|C|) loop (3 array traversals per pair
        # instead of 1). Same expressions on the
        # same arrays, so the factored sim is bit-identical.
        q = q.selectExpr("*", f"{l2_norm_sql('_qv')} AS _qn")
        c = c.selectExpr("*", f"{l2_norm_sql('_cv')} AS _cn")
        # try_divide: a zero vector (norm 0) must score NULL (ranked
        # last), not abort the job with ANSI DIVIDE_BY_ZERO
        sim = f"try_divide({dot_sql('_qv', '_cv')}, _qn * _cn)"
    elif metric == "dot":
        sim = dot_sql("_qv", "_cv")
    else:
        raise ValueError(
            f"knn_topk: metric must be 'cosine' or 'dot', got {metric!r} — "
            "a silent fallback to raw inner product would return "
            "plausible-looking but wrong neighbors"
        )
    scored = c.join(F.broadcast(q)).selectExpr(
        "query_id", f"`{corpus_id}`", f"{sim} AS sim"
    )
    return _topk_per_query(scored, corpus_id, k, "sim")


def lsh_bucket(vec_col: str, dim: int, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id: bit p set iff dot(vec, plane_p) > 0.

    Planes are deterministic pseudo-random (md5-derived, see
    functions.hashing.hyperplane_component) so the bucketing is
    reproducible in SQL for the oracle and across cluster restarts.
    Takes the vector COLUMN NAME; the expression is generated as one
    SQL string to avoid ~n_planes*dim py4j literal-building calls.
    """
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(vec_col, [hyperplane_component(p, d) for d in range(dim)])}"
        f" > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return F.expr(terms)


# Offset keeps the multi-table near-dup plane family disjoint from the
# single-table ANN planes (0..) and the IVF centroids (1000..).
LSH_TABLE_OFFSET = 2000


def lsh_band_keys(
    vec_col: str, dim: int, n_tables: int = 4, n_planes: int = 4
) -> Column:
    """Array of (tbl, bkt) multi-table sign-LSH keys — one bucket id per
    hash table, each table built from its own ``n_planes`` hyperplanes.

    Multi-table banding is the standard recall amplifier for sign-LSH
    (Indyk/Motwani LSH; Leskovec/Rajaraman/Ullman ch. 3): a pair at
    angle theta collides in one table with prob (1 - theta/pi)^n_planes
    and is MISSED by all tables with prob
    (1 - (1-theta/pi)^n_planes)^n_tables — e.g. cos >= 0.9 with 4x4
    tables is found with ~0.97 probability. Takes the vector COLUMN
    NAME; emitted as one SQL string (py4j-cheap, see lsh_bucket).
    """
    entries = []
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN "
            f"{_dot_sql(vec_col, [hyperplane_component(LSH_TABLE_OFFSET + t * n_planes + p, d) for d in range(dim)])}"
            f" > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        entries.append(f"named_struct('tbl', {t}, 'bkt', {terms})")
    return F.expr("array(" + ", ".join(entries) + ")")


def ivf_centroid(cell: int, dim: int) -> list[float]:
    """Deterministic pseudo-random IVF centroid (offset 1000 keeps the
    centroid family disjoint from the sign-LSH hyperplanes). The ORACLE
    quantizer — reproducible in SQL; production recall wants
    ``train_ivf_centroids`` instead."""
    return [hyperplane_component(1000 + cell, d) for d in range(dim)]


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[float]]:
    """k-means IVF centroids trained on (a sample of) the corpus — the
    production coarse quantizer (FAISS trains its IVF the same way;
    reference src/embedding_engine.py:15-30 uses a flat index, this is
    the scale path beyond it).

    MLlib KMeans runs distributed over the executors; only the
    ``n_cells x dim`` centroid floats come back to the driver —
    metadata-sized, exactly like any broadcast dimension. Centroids are
    L2-normalized so the argmax-dot cell assignment
    (``assign_cells_exact``) ranks them by cosine. At 100 TB train on ``sample_fraction`` (a few
    million vectors is plenty for k-means) — never the full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    if sample_fraction is not None:
        feats = feats.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    cents: list[list[float]] = []
    for c in model.clusterCenters():
        v = [float(x) for x in c]
        n = sum(x * x for x in v) ** 0.5 or 1.0
        cents.append([x / n for x in v])
    return cents


def frozen_quantizer(
    path: str | None = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """(centroids, codebooks) from the committed trained-quantizer
    artifact (artifacts/quantizer.json, written by
    tools/train_quantizer.py — seeded MLlib k-means over the sf0.01
    eval corpus). Train-on-sample / freeze / apply-anywhere is the
    100 TB deployment shape: the artifact is metadata-sized (~40 KB)
    and applies to any corpus at any sf; only TRAINING touched a
    Spark job. Loaded once per process (tiny, cached)."""
    from ..functions.artifacts import load_artifact

    art = load_artifact(path, "quantizer.json")
    return art["centroids"], art["codebooks"]


def _dot_sql(col_name: str, values: list[float], guard: bool = True) -> str:
    """SQL-text dot product against a literal vector — same fold order
    as `dot_sql` (zip_with then sequential aggregate).

    Guarded like `dot_sql`: a dim mismatch (wrong `dim` argument vs actual
    vector length) null-pads zip_with, nulls the sum, and silently
    collapses IVF/LSH cell assignment — assert_true raises instead.
    The guard term is emitted FIRST (``guard + agg``): null-safe Add
    short-circuits on a NULL left operand, and the aggregate is NULL
    exactly when the guard must fire, so ``agg + guard`` never raises
    (round-5 advisory). A NULL vector column passes the guard and
    yields NULL. The passing branch returns NULL, so the coalesce adds
    0D and the numeric result is bit-unchanged. Generated families that emit MANY
    dots over the SAME column per row (cell ranking, PQ codebooks) pass
    guard=False on all but one — one size check per row suffices, and
    the per-dot guard measurably slowed the ADC path (1.7s -> 2.7s at
    sf0.1 before this flag).
    """
    n = len(values)
    arr = "array(" + ",".join(f"{v!r}D" for v in values) + ")"
    agg = (
        f"aggregate(zip_with({col_name}, {arr}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)"
    )
    if not guard:
        return f"({agg})"
    g = (
        f"coalesce(CAST(assert_true({col_name} IS NULL OR size({col_name}) = {n}, "
        f"'vector length <> dim={n}') AS DOUBLE), 0D)"
    )
    return f"({g} + {agg})"


def _cell_rank_sql(col_name: str, centroids: list[list[float]]) -> str:
    """SQL text for the literal tier's sorted cell ranking.

    Built as ONE SQL string parsed JVM-side: the equivalent Column-API
    tree needs ~n_cells*dim py4j calls for the literals, which costs
    more wall-clock to BUILD (1.6s measured for 8x64 used twice) than
    the query takes to run. Element 1 = best cell (max dot, ties ->
    lowest cell id).
    """
    cells = ", ".join(
        f"named_struct('nd', -({_dot_sql(col_name, c, guard=(i == 0))}), 'c', {i})"
        for i, c in enumerate(centroids)
    )
    return f"array_sort(array({cells}))"


def resolve_centroids(
    dim: int, n_cells: int, centroids: list[list[float]] | None
) -> list[list[float]]:
    """The coarse quantizer an IVF operator runs with: ``centroids``
    when given (``train_ivf_centroids``, the frozen artifact), else the
    fixed pseudo-random family of ``n_cells`` (``ivf_centroid``)."""
    if centroids is not None:
        return centroids
    return [ivf_centroid(c, dim) for c in range(n_cells)]


# Literal-centroid ceiling: the literal tier of assign_cells_exact /
# probe_cells embeds n_cells x dim doubles as EXPRESSION literals, and
# the serialized task binary grows with the plan (~130 MB at 800 cells
# x 64 dims, measured in the round-11 100x probe — with an OOM on the
# shared JVM at that size). The ceiling therefore sits BELOW the
# measured-fragile 800-cell point, not above it (round-12 advisory):
# past this bound both switch to the broadcast centroid table —
# centroid data rides a broadcast, not the plan.
CELL_LITERAL_MAX = 512

# Exact-fold ceiling of ``assign_cells``: past this cell count the
# interpreted HOF fold (k x dim multiply-adds per row, ~10x slower
# than the GEMM at 10k cells and growing with k — round-12 verdict
# item 1) is compute-infeasible at SemDeDup's own cost model (50k
# cells / 5B embeddings), so the tier switches to the Arrow/numpy-GEMM
# path. Code that must replay the bit-exact fold above this count
# (oracle replay, parity harnesses) calls ``assign_cells_table``
# directly — it has no ceiling, only the throughput trade documented
# on assign_cells_arrow.
CELL_EXACT_AUTO_MAX = 4096


def assign_cells_table(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    out_col: str = "_cell",
) -> DataFrame:
    """Coarse-quantizer cell assignment via a broadcast centroid TABLE
    — ``assign_cells_exact``'s tier past ``CELL_LITERAL_MAX`` cells
    (SemDeDup's cost model wants
    cells ~ corpus/target_cell_size; the paper runs 50k cells for 5B
    embeddings, and 50k x 64 dims is ~25 MB of centroid data — two
    orders of magnitude past the literal-expression ceiling).

    Plan shape: the (cell, centroid) table is collapsed to ONE row
    holding a cell-ordered ``array<struct<c, cent>>`` and broadcast; a
    BroadcastNestedLoopJoin against that single row attaches it to
    every vector (no shuffle, no per-vector data movement — the stream
    side's partitioning is untouched), and a per-row fold computes
    argmax-dot in place: ``transform`` scores each centroid once, the
    ``aggregate`` keeps the first strict minimum of (-dot), so ties go
    to the LOWEST cell id — exactly ``_cell_rank_sql``'s ``array_sort``
    element 1. Plan size, broadcast payload per executor, and shuffle
    volume (zero) are all independent of n_cells.

    NOT the join-per-(vector, cell) shape: scoring as a
    BroadcastNestedLoopJoin row PER CANDIDATE materializes n x k joined
    rows each carrying the 64-dim vector into a re-grouping aggregate —
    measured 180s for 2k vectors x 1k cells at sf0.1 against ~2s for
    this in-place fold, which evaluates the same dots without ever
    widening or regrouping the stream.

    Parity: the dot is the same sequential zip_with/aggregate fold over
    the same doubles as ``_dot_sql``'s literal path — the two
    assignment paths agree bit-for-bit on shared centroids
    (tests/test_vectors.py::test_table_assignment_matches_literal).
    One dim-guard per row (``assert_true`` folded into the fold's
    init), matching the literal path's guard-once convention. NULL
    vectors get a NULL cell (every -dot is NULL, the fold never
    improves on the NULL-cell init) rather than an arbitrary one.

    Returns ``df``'s columns plus ``out_col``. Cost is n x k dots of
    interpreted higher-order-function work regardless of path — size
    the STREAM side's partitioning to the cluster (a single-file local
    read is one partition and will single-thread; ``.repartition()``
    first if the scan's natural parallelism is low).
    """
    spark = df.sparkSession
    dim = len(centroids[0]) if centroids else 0
    best = F.expr(
        f"""aggregate(
  transform(_cents, s -> named_struct('nd', {_table_nd_sql(vec_col)}, 'c', s.c)),
  named_struct('nd', {_table_guard_sql(vec_col, dim, 'assign_cells_table')} + CAST('Infinity' AS DOUBLE),
               'c', CAST(NULL AS INT)),
  (acc, x) -> IF(x.nd < acc.nd, x, acc)).c"""
    )
    return (
        df.crossJoin(F.broadcast(_cells_one_row(spark, centroids)))
        .withColumn(out_col, best.cast("int"))
        .drop("_cents")
    )


def _cells_one_row(spark, centroids: list[list[float]]) -> DataFrame:
    """The broadcast side of the table-assignment family: the whole
    centroid table collapsed to ONE row holding a cell-ordered
    ``_cents array<struct<c, cent>>`` (struct comparison sorts on the
    leading c field, so array_sort restores cell-id order regardless of
    collect_list's arrival order)."""
    # Arrow pd.DataFrame path, not the row-pickling list path: at the
    # paper's 50k cells the pickled build alone cost ~8s per job; Arrow
    # infers int64, so the cast below pins the struct's c to INT to
    # match the fold's typed NULL-cell init
    pdf = pd.DataFrame(
        {
            "_cc": list(range(len(centroids))),
            "_cent": [[float(x) for x in v] for v in centroids],
        }
    )
    return spark.createDataFrame(pdf).select(
        F.col("_cc").cast("int").alias("_cc"), F.col("_cent")
    ).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("_cc").alias("c"), F.col("_cent").alias("cent"))
            )
        ).alias("_cents")
    )


def _table_nd_sql(vec_col: str) -> str:
    """-dot(vec, s.cent) as SQL text for lambdas iterating the
    broadcast ``_cents`` array — the same sequential zip_with/aggregate
    fold (same doubles, same order) as ``_dot_sql``'s literal path."""
    vq = f"`{vec_col}`"
    return (
        f"-(aggregate(zip_with({vq}, s.cent, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"0D, (a, v) -> a + v))"
    )


def _table_guard_sql(vec_col: str, dim: int, who: str) -> str:
    """One dim-guard per ROW (not per cell) for the table-assignment
    family — evaluates to 0D or raises, mirroring ``_dot_sql``'s
    guard-once convention (guard=True only on cell 0)."""
    vq = f"`{vec_col}`"
    return (
        f"coalesce(CAST(assert_true({vq} IS NULL OR size({vq}) = {dim}, "
        f"'{who}: vector length <> dim={dim}') AS DOUBLE), 0D)"
    )


def assign_cells_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    out_col: str = "_cell",
) -> DataFrame:
    """Arrow-vectorized cell assignment — the RAW-THROUGHPUT variant of
    ``assign_cells_table`` for paper-scale cell counts: one numpy
    float64 matmul per Arrow batch against a centroid matrix shipped
    once per executor via ``SparkContext.broadcast`` (never in the
    plan, never per task). Measured ~3 orders of magnitude faster than
    the interpreted-HOF fold at 10k cells (tools/scale_probe.py
    ``semantic_arrow_assign``) — this is the shape SemDeDup itself
    runs (dense GEMM on accelerators), expressed as the engine's
    sanctioned Pandas-UDF slow path for work the built-in operators
    cannot vectorize.

    PARITY CAVEAT (why this is ``assign_cells``' tier only past
    ``CELL_EXACT_AUTO_MAX``, never the oracle path): numpy sums the dot
    products pairwise/SIMD, not in the oracle's sequential fold order,
    so two centroids whose dots differ by under ~1 ulp can rank
    differently than the literal/table paths. Ties break to the LOWEST
    cell id (numpy argmax returns the first maximum), matching the
    exact paths' rule — on real embedding data exact cross-centroid
    ties don't occur and all three paths agree (asserted on the test
    corpora), but the guarantee here is argmax-under-float64-GEMM, not
    bit-parity. Call ``assign_cells_table`` where the SQL oracle must
    replay the assignment; use this where throughput matters.

    NULL vectors get a NULL cell; a dim mismatch raises loudly from
    the batch (same contract as the guarded paths).
    """
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    if cmat.ndim != 2 or cmat.shape[1] == 0:
        raise ValueError(
            "assign_cells_arrow: centroids must be a non-empty "
            f"rectangular k x dim table, got shape {cmat.shape}"
        )
    bc = df.sparkSession.sparkContext.broadcast(cmat)

    @F.pandas_udf("int")
    def _cell(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cents = bc.value
        for v in batches:
            out = np.full(len(v), -1, dtype="int64")
            mask = v.notna().to_numpy()
            if mask.any():
                try:
                    mat = np.vstack(
                        [np.asarray(x, dtype=np.float64) for x in v[mask]]
                    )
                except ValueError as e:
                    raise ValueError(
                        "assign_cells_arrow: ragged vector batch (length "
                        f"mismatch inside one Arrow batch): {e}"
                    ) from e
                if mat.shape[1] != cents.shape[1]:
                    raise ValueError(
                        f"assign_cells_arrow: vector length "
                        f"{mat.shape[1]} <> dim={cents.shape[1]}"
                    )
                out[mask] = np.argmax(mat @ cents.T, axis=1)
            res = pd.Series(out).astype("Int64")
            res[~mask] = pd.NA
            yield res.astype("Int32")

    return df.withColumn(out_col, _cell(F.col(vec_col)))


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    out_col: str = "_cell",
) -> DataFrame:
    """Coarse-quantizer cell assignment, tiered on the centroid count
    alone: the exact fold (``assign_cells_exact``: literal, then
    broadcast table) up to ``CELL_EXACT_AUTO_MAX`` cells, the Arrow/GEMM
    batch argmax (``assign_cells_arrow``) past it — a paper-scale caller
    gets the fast path without asking for it.

    The GEMM tier carries ``assign_cells_arrow``'s parity caveat.
    Returns ``df``'s columns plus an INT ``out_col``. Every tier is
    per-row compute: size the stream side's partitioning first
    (``session.ensure_parallelism``)."""
    if len(centroids) <= CELL_EXACT_AUTO_MAX:
        return assign_cells_exact(df, centroids, vec_col, out_col)
    return assign_cells_arrow(df, centroids, vec_col, out_col)


def probe_cells_table(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    nprobe: int,
    out_col: str = "_probes",
) -> DataFrame:
    """Top-``nprobe`` nearest cells per vector via the broadcast
    centroid TABLE — ``probe_cells``' tier past ``CELL_LITERAL_MAX``
    cells, the query-side companion of ``assign_cells_table`` (IVF
    probing needs the nprobe BEST cells, not just the argmax).
    Same one-row broadcast, same dots, and the ranking is
    ``array_sort`` over (nd, c) structs — element-for-element the
    ordering ``_cell_rank_sql`` produces, so literal and table probes
    select identical cell lists. Adds ``out_col`` as an
    ``array<int>`` of cell ids, best first; the dim guard fires once
    per row via the IF wrapper (the guard expression is 0D or raises).
    """
    spark = df.sparkSession
    dim = len(centroids[0]) if centroids else 0
    ranked = F.expr(
        f"""IF({_table_guard_sql(vec_col, dim, 'probe_cells_table')} = 0D,
  transform(
    slice(array_sort(transform(_cents, s -> named_struct('nd', {_table_nd_sql(vec_col)}, 'c', s.c))),
          1, {int(nprobe)}),
    s -> s.c),
  NULL)"""
    )
    return (
        df.crossJoin(F.broadcast(_cells_one_row(spark, centroids)))
        .withColumn(out_col, ranked)
        .drop("_cents")
    )


def assign_cells_exact(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    out_col: str = "_cell",
) -> DataFrame:
    """Exact argmax-dot cell assignment — the one assignment seam of the
    IVF family (index writers, ``ann_ivf_topk``, ``ann_ivfpq_topk_mem``,
    and ``assign_cells`` up to ``CELL_EXACT_AUTO_MAX``). Literal
    expressions up to ``CELL_LITERAL_MAX`` cells, the broadcast centroid
    table (``assign_cells_table``) past it.

    Both tiers fold the same doubles in the same order, and both give a
    NULL vector a NULL cell (every dot is NULL, there is no argmax; the
    literal tier's IF guard stops the stable sort over all-NULL keys
    from handing it cell 0), so crossing the ceiling never moves a
    vector's cell (tests/test_vectors.py::
    test_table_assignment_matches_literal) and an index written on one
    tier is probed correctly on the other. Returns ``df``'s columns plus
    an INT ``out_col``."""
    if len(centroids) > CELL_LITERAL_MAX:
        return assign_cells_table(df, centroids, vec_col, out_col)
    return df.withColumn(
        out_col,
        F.expr(
            f"IF({vec_col} IS NULL, CAST(NULL AS INT), "
            f"element_at({_cell_rank_sql(vec_col, centroids)}, 1).c)"
        ),
    )


def probe_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """IVF probing — the one probe seam of the family: ``df``'s rows,
    one per probed cell, with the ``nprobe`` nearest cells (best first,
    ties to the lowest cell id) in INT ``_cell``, the key of the cell
    join and of a persisted index's partitions. Literal expressions up
    to ``CELL_LITERAL_MAX`` cells, the broadcast centroid table
    (``probe_cells_table``) past it — the same tier rule and the same
    fold as ``assign_cells_exact``, so a vector's first probe is the
    cell it is assigned to. Callers drop NULL vectors first (the query
    side, ``_queries``): a NULL vector has no nearest cell."""
    if len(centroids) > CELL_LITERAL_MAX:
        return (
            probe_cells_table(df, centroids, vec_col, nprobe)
            .withColumn("_cell", F.explode("_probes"))
            .drop("_probes")
        )
    probes = f"transform(slice({_cell_rank_sql(vec_col, centroids)}, 1, {int(nprobe)}), s -> s.c)"
    return df.withColumn("_cell", F.explode(F.expr(probes)))


def _queries(queries: DataFrame, query_id: str, vec_col: str) -> DataFrame:
    """The query side of the IVF and PQ operators: (query_id, _qv), NULL
    query vectors dropped. A NULL vector has no nearest cell and no ADC
    table; kept, it would probe arbitrary cells (the null-first struct
    ordering) or score NULL against every candidate, fabricating k
    NULL-score "neighbors" for that query."""
    return queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
    )


def _cosine_topk(
    cb: DataFrame, qb: DataFrame, on: str, corpus_id: str, vec_col: str, k: int
) -> DataFrame:
    """Exact cosine rerank of blocked candidates: corpus rows ``cb``
    (``corpus_id``, ``vec_col``, ``on``) equi-join the broadcast query
    side ``qb`` (query_id, _qv, ``on``) on the block key. Each norm is
    computed once per row, not per pair; try_divide scores a zero
    vector (norm 0) NULL, ranked last, never an ANSI DIVIDE_BY_ZERO
    job abort — same as knn_topk."""
    v = f"`{vec_col}`"
    scored = (
        cb.selectExpr("*", f"{l2_norm_sql(v)} AS _cn")
        .join(F.broadcast(qb.selectExpr("*", f"{l2_norm_sql('_qv')} AS _qn")), on)
        .selectExpr(
            "query_id",
            f"`{corpus_id}`",
            f"try_divide({dot_sql('_qv', v)}, _qn * _cn) AS sim",
        )
    )
    return _topk_per_query(scored, corpus_id, k, "sim")


def _probe_index(
    spark, index_path: str, kind: str, meta: dict, qb: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The persisted-probe body shared by ``ann_ivf_topk_indexed`` and
    ``ann_ivfpq_topk``: check the index's ``_{kind}_meta.json`` sidecar
    against ``meta`` (``sources.sinks.check_sidecar``), pin the query
    side ``qb`` (one row per probed ``_cell``), collect its distinct
    cells and return (the index scan pruned to them, the pinned ``qb``).

    The probe cells are nqueries x nprobe integers — metadata-sized,
    never corpus data — and the static ``_cell IN (...)`` predicate is a
    parquet PartitionFilter: at 100 TB a 2-of-64-cell probe lists ~3%
    of the index files, the pruning FAISS gets by opening only nprobe
    inverted lists. The pin is there because ``qb`` feeds both the
    collect (which materializes it) and the broadcast join; without it
    the (n_cells x dim) ranking re-executes from source."""
    from ..sources.sinks import check_sidecar
    from .pinning import pin

    check_sidecar(spark, index_path, kind, meta)
    qb = pin(qb)
    cells = sorted(r["_cell"] for r in qb.select("_cell").distinct().collect())
    return spark.read.parquet(index_path).filter(F.col("_cell").isin(cells)), qb


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    Corpus vectors are assigned to their nearest of ``n_cells``
    centroids (the inverted lists, ``assign_cells_exact``); each query
    probes its ``nprobe`` nearest cells (``probe_cells``) and reranks
    candidates exactly by cosine. At scale the corpus is partitioned (or
    bucketed) by cell so a probe touches ~nprobe/n_cells of the data —
    the same pruning FAISS IVF does, but expressed as a partition-pruned
    equi-join.

    Default centroids are fixed pseudo-random (deterministic for the
    SQL oracle); pass ``centroids=train_ivf_centroids(corpus, ...)``
    for the production path — trained cells track the data's density,
    measurably better recall at every nprobe (see
    tests/test_vectors.py::test_trained_centroids_beat_fixed). Probing
    all cells (nprobe = n_cells) degenerates to exact search.

    Centroids ride the plan as literals up to ``CELL_LITERAL_MAX``
    cells and a broadcast table past it; both tiers return the same
    rows. There is no GEMM tier: probes need a ranked cell list, which
    only the folds give, and corpus cells must come from the probes'
    fold. A NULL query vector emits no rows. The corpus goes through
    ``ensure_parallelism`` first: assignment is n_cells x dim
    interpreted multiply-adds per row, which a one-file local scan would
    single-thread (a no-op at cluster partition counts).
    """
    from ..session import ensure_parallelism

    cents = resolve_centroids(dim, n_cells, centroids)
    cb = assign_cells_exact(
        ensure_parallelism(corpus).select(
            F.col(corpus_id).alias(corpus_id), F.col(vec_col).alias("_cv")
        ),
        cents,
        "_cv",
    )
    qb = probe_cells(_queries(queries, query_id, vec_col), cents, "_qv", nprobe)
    return _cosine_topk(cb, qb, "_cell", corpus_id, "_cv", k)


def ann_ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    dim: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec_col: str = "embedding",
    index_vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k over a PERSISTED inverted-list index
    (sources.sinks.write_ivf_index): reads ONLY the probed partitions
    (``_probe_index``).

    ``query_vec_col`` names the vector column in ``queries``;
    ``index_vec_col`` must match the ``vec_col`` the index was WRITTEN
    with (its schema is fixed at write time). Probes go through
    ``probe_cells``: literal centroids up to ``CELL_LITERAL_MAX`` cells,
    a broadcast table past it. Both tiers fold the same doubles as the
    writer's assignment, so an index written on either tier is probed
    correctly on either. A NULL query vector emits no rows. Results are
    identical to ``ann_ivf_topk`` on the same corpus + centroids (each
    query still joins only its own cells).

    The index's ``_ivf_meta.json`` sidecar (written by
    ``write_ivf_index``) is checked before probing: a quantizer
    mismatch — different dim, n_cells, vector column, or centroid set
    than the index was written with — would silently return wrong
    neighbors, so it raises instead. A MISSING sidecar (foreign or
    partially-written index) also raises — an unverifiable quantizer is
    as dangerous as a mismatched one (``sources.sinks.check_sidecar``).
    """
    from ..sources.sinks import ivf_meta

    cents = resolve_centroids(dim, n_cells, centroids)
    corpus, qb = _probe_index(
        spark,
        index_path,
        "ivf",
        ivf_meta(dim, len(cents), centroids, index_vec_col),
        probe_cells(_queries(queries, query_id, query_vec_col), cents, "_qv", nprobe),
    )
    return _cosine_topk(corpus, qb, "_cell", corpus_id, index_vec_col, k)


# Offset keeps the PQ codebook family disjoint from the sign-LSH
# hyperplanes (0.. / 2000..) and the IVF centroids (1000..).
# BOUNDARY (documented, not enforced): the disjointness holds for
# DEFAULT ivf_centroid families up to 1000 cells — past that the
# default centroids run into the LSH (2000+) and PQ (3000+) index
# ranges, so a pipeline COMBINING large default-centroid IVF with
# banding or PQ would share pseudo-random points across families.
# Every at-scale path already takes explicit/trained centroids
# (train_ivf_centroids, the frozen quantizer artifact), which carry
# no family coupling; pass them when mixing families above 1000
# default cells.
PQ_FAMILY_OFFSET = 3000


def pq_codebook(j: int, ksub: int, dsub: int) -> list[list[float]]:
    """Deterministic pseudo-random codebook for subspace ``j`` (``ksub``
    centroids of ``dsub`` dims). The ORACLE quantizer — reproducible in
    SQL; production recall wants ``train_pq_codebooks`` instead."""
    return [
        [hyperplane_component(PQ_FAMILY_OFFSET + j * ksub + ci, d) for d in range(dsub)]
        for ci in range(ksub)
    ]


def default_pq_codebooks(dim: int, m: int = 8, ksub: int = 16) -> list[list[list[float]]]:
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    dsub = dim // m
    return [pq_codebook(j, ksub, dsub) for j in range(m)]


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    splits into ``m`` subspaces of dim/m dims; each subspace gets its
    own ``ksub``-centroid k-means codebook.

    ``m`` MLlib KMeans fits on (a sample of) the corpus — distributed;
    only m x ksub x dsub floats return to the driver (KBs). At 100 TB
    train on a few-million-vector sample, never the full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    assert dim % m == 0, "dim must divide evenly into m subspaces"
    dsub = dim // m
    base = corpus.select(F.col(vec_col).alias("_v"))
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    base = base.localCheckpoint(eager=False)
    books: list[list[list[float]]] = []
    for j in range(m):
        feats = base.select(
            array_to_vector(
                F.transform(
                    F.slice("_v", j * dsub + 1, dsub), lambda x: x.cast("double")
                )
            ).alias("features")
        )
        model = KMeans(k=ksub, seed=seed + j, maxIter=max_iter).fit(feats)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def _with_codebooks(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """``df`` cross-joined with the broadcast side of the PQ family: the
    whole codebook collapsed to ONE row holding ``_pqcb
    array<struct<j, cents>>`` (subspace-ordered; each ``cents`` is
    centroid-id-ordered ``array<struct<c, cent, hn>>`` with the
    half-norm ``hn`` = 0.5*||c||² precomputed in Python). A
    BroadcastNestedLoopJoin against a single row: the stream side's
    partitioning is untouched."""
    # built as ONE driver-side row (no collect_list aggregate: the
    # codebook is metadata-sized — m*ksub entries — so the agg's two
    # exchanges would cost more stages than the data is worth; the IVF
    # _cells_one_row keeps its agg because 50k-cell centroid tables
    # made the pickled single-row build measurably slow)
    row = [
        (
            j,
            [
                (ci, [float(x) for x in c], 0.5 * sum(x * x for x in c))
                for ci, c in enumerate(cb)
            ],
        )
        for j, cb in enumerate(codebooks)
    ]
    one = df.sparkSession.createDataFrame(
        [(row,)],
        "_pqcb array<struct<j:int,cents:array<struct<c:int,cent:array<double>,hn:double>>>>",
    )
    return df.crossJoin(F.broadcast(one))


def _pq_table_sub(vec_col: str, dsub: int) -> str:
    """slice/dot/guard fragments over the broadcast ``_pqcb`` lambdas —
    textually the same fold as ``_dot_sql`` (zip_with then sequential
    aggregate, guard emitted first) with the literal centroid replaced
    by ``s.cent`` and the literal half-norm by ``s.hn``."""
    sub = f"slice(`{vec_col}`, sb.j * {dsub} + 1, {dsub})"
    agg = (
        f"aggregate(zip_with({sub}, s.cent, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)"
    )
    g = (
        f"coalesce(CAST(assert_true({sub} IS NULL OR size({sub}) = {dsub}, "
        f"'vector length <> dim={dsub}') AS DOUBLE), 0D)"
    )
    return sub, agg, g


def _pq_table_encode_expr(vec_col: str, codebooks: list[list[list[float]]]):
    """PQ code array over the broadcast ``_pqcb`` column: per subspace,
    the centroid minimizing L2 distance — argmin of -(dot - halfnorm)
    (the ||x_j||² term is constant per row and drops out), ties ->
    lowest code id via array_sort. A total-size assert on the first
    cell catches an OVER-length vector (it would slice cleanly
    everywhere and be encoded from its first m*dsub components); the
    per-subspace slice guard on centroid 0 catches an under-length one.
    A constant-size template plus one broadcast row: embedding the
    centroids as literals expanded m*ksub dot subtrees, a ~39 KB
    expression parsed, analyzed and shipped in the task binary per
    query, for folds that execute interpreted either way."""
    dsub = len(codebooks[0][0])
    total = len(codebooks) * dsub
    tguard = (
        f"coalesce(CAST(assert_true(`{vec_col}` IS NULL OR "
        f"size(`{vec_col}`) = {total}, "
        f"'pq: expected {total}-dim vector') AS DOUBLE), 0D)"
    )
    _sub, agg, g = _pq_table_sub(vec_col, dsub)
    nd_guarded = f"-((({g}) + {agg}) - s.hn)"
    nd_plain = f"-(({agg}) - s.hn)"
    return F.expr(
        f"""transform(_pqcb, sb ->
  element_at(array_sort(transform(sb.cents, s ->
    named_struct('nd',
      CASE WHEN s.c = 0 AND sb.j = 0 THEN ({tguard}) + {nd_guarded}
           WHEN s.c = 0 THEN {nd_guarded}
           ELSE {nd_plain} END,
      'c', s.c))), 1).c)"""
    )


def _pq_table_tabs_expr(vec_col: str, dsub: int):
    """Flat m*ksub ADC lookup table of dot(query_subvector, centroid)
    over the broadcast ``_pqcb`` column — subspace-major,
    centroid-minor entry order, one slice guard per subspace (on
    centroid 0)."""
    _sub, agg, g = _pq_table_sub(vec_col, dsub)
    return F.expr(
        f"""flatten(transform(_pqcb, sb ->
  transform(sb.cents, s ->
    CASE WHEN s.c = 0 THEN (({g}) + {agg}) ELSE ({agg}) END)))"""
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes): each vector compressed to m small ints — the
    32x-and-up storage/IO squeeze that makes billion-vector search
    scan-able (m bytes per vector at rest instead of dim x 4).

    The codebook rides a ONE-ROW broadcast (the ``assign_cells_table``
    shape; the stream side's partitioning is untouched) and the per-row
    argmin is a constant-size expression template
    (``_pq_table_encode_expr``).
    """
    return _with_codebooks(corpus, codebooks).select(
        F.col(corpus_id).alias(corpus_id),
        _pq_table_encode_expr(vec_col, codebooks).alias("codes"),
    )


def ivfpq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes, _cell) in one corpus pass: ``pq_encode``'s codes
    plus the ``assign_cells_exact`` cell — the IndexIVFPQ corpus side,
    shared by ``ann_ivfpq_topk_mem`` and ``sources.sinks.write_ivfpq_index``.
    No self-join, and both broadcasts are single rows, so the stream
    side's partitioning (and so a writer's file layout) is untouched."""
    cells = assign_cells_exact(_with_codebooks(corpus, codebooks), centroids, vec_col)
    return cells.select(
        F.col(corpus_id).alias(corpus_id),
        _pq_table_encode_expr(vec_col, codebooks).alias("codes"),
        "_cell",
    )


def _pq_queries(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str,
    vec_col: str,
    centroids: list[list[float]] | None = None,
    nprobe: int = 0,
) -> DataFrame:
    """The PQ query side: (query_id, _tab) — each query's flat ADC
    lookup table, computed once per query before the candidate join —
    plus one row per probed ``_cell`` (``probe_cells``) when
    ``centroids`` are given. The table is projected BELOW the probe
    explode, so it is built once per query, not once per probed cell.
    NULL query vectors are dropped (``_queries``)."""
    qb = _with_codebooks(_queries(queries, query_id, vec_col), codebooks).select(
        "query_id",
        "_qv",
        _pq_table_tabs_expr("_qv", len(codebooks[0][0])).alias("_tab"),
    )
    if centroids is None:
        return qb.drop("_qv")
    return probe_cells(qb, centroids, "_qv", nprobe).select("query_id", "_tab", "_cell")


def _adc_topk(
    codes: DataFrame,
    qb: DataFrame,
    codebooks: list[list[list[float]]],
    corpus_id: str,
    k: int,
    on: str | None = None,
) -> DataFrame:
    """ADC scoring (Jégou et al. 2011 §III) of coded candidates against
    the broadcast PQ query side, joined on ``on`` (None: every query
    against every candidate): m table lookups + adds per pair, no float
    vector read. The fold over subspaces is an ordered
    ``aggregate(sequence(...))``, so scores are bit-reproducible (and
    oracle-comparable) — not a shuffle-order-dependent sum."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    score = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0D, "
        f"(a, j) -> a + element_at(_tab, j * {ksub} + element_at(codes, j + 1) + 1))"
    )
    scored = codes.join(F.broadcast(qb), on).select(
        "query_id", corpus_id, score.alias("score")
    )
    return _topk_per_query(scored, corpus_id, k, "score")


def ann_pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k inner product over PQ codes via asymmetric
    distance computation (ADC, Jégou et al. 2011 §III): each query
    precomputes its m x ksub dot-product lookup table; scoring a
    candidate is then m table lookups + adds — no float vectors are
    read or multiplied per candidate (``_adc_topk``). A NULL query
    vector emits no rows.

    Scale shape: ``corpus_codes`` (from ``pq_encode``, possibly
    persisted) streams through without shuffling and its scan reads m
    small ints per row; queries + tables broadcast. The only shuffle is
    the per-query top-k window, pre-cut by a partial WindowGroupLimit.
    Compose with the IVF cell join (``ann_ivf_topk``) for IndexIVFPQ
    semantics — probe inverted lists first, ADC-score inside them.
    """
    qb = _pq_queries(queries, codebooks, query_id, vec_col)
    return _adc_topk(corpus_codes, qb, codebooks, corpus_id, k)


def ann_ivfpq_topk_mem(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    codebooks: list[list[list[float]]],
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """In-memory IndexIVFPQ semantics: IVF cell blocking (each query
    probes its nprobe nearest cells) + PQ/ADC scoring inside the probed
    cells — the candidate set shrinks to ~nprobe/n_cells of the corpus
    AND each candidate costs m table lookups instead of a dim-wide dot.

    One corpus pass emits (id, codes, cell) (``ivfpq_encode``); the
    cell equi-join against the broadcast query batch replaces
    ``ann_pq_topk``'s cross join. Cells are assigned and probed with
    literal centroids up to ``CELL_LITERAL_MAX`` cells and a broadcast
    table past it; both tiers return the same rows. A NULL query vector
    emits no rows. Use ``ann_ivfpq_topk`` (the persisted variant) when
    the index lives on disk — it additionally prunes the scan to the
    probed partitions. Deterministic with the default codebook/centroid
    families, so the whole path is DuckDB-oracle-checkable (query
    ``ann_ivfpq_mem``).
    """
    from ..session import ensure_parallelism

    cents = resolve_centroids(dim, n_cells, centroids)
    # ensure_parallelism: the per-row encode (m*ksub interpreted dot
    # folds) is exactly the compute-bound shape a single-file local
    # scan would single-thread; a no-op on already-split inputs
    cb = ivfpq_encode(ensure_parallelism(corpus), codebooks, cents, corpus_id, vec_col)
    qb = _pq_queries(queries, codebooks, query_id, vec_col, cents, nprobe)
    return _adc_topk(cb, qb, codebooks, corpus_id, k, "_cell")


def ann_ivfpq_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    dim: int,
    codebooks: list[list[list[float]]],
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec_col: str = "embedding",
    index_vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IndexIVFPQ search over a persisted index
    (sources.sinks.write_ivfpq_index): partition-pruned scan of PQ codes
    + ADC lookup-table scoring.

    The two scale reductions compound: the ``_cell IN (...)`` predicate
    prunes to the probed partitions at the file-listing level
    (``_probe_index``, shared with ``ann_ivf_topk_indexed``), and the
    surviving scan reads m small ints per vector instead of dim floats;
    scoring is m table lookups. Probes use literal centroids up to
    ``CELL_LITERAL_MAX`` cells and a broadcast table past it, the
    writer's fold on either tier. A NULL query vector emits no rows.
    The ``_ivfpq_meta.json`` sidecar is asserted before probing — a
    different dim/n_cells/centroids/codebooks than the index was
    written with raises instead of silently returning wrong neighbors,
    and so does a MISSING sidecar (unverifiable quantizer).
    """
    from ..sources.sinks import ivf_meta, pq_meta

    cents = resolve_centroids(dim, n_cells, centroids)
    corpus, qb = _probe_index(
        spark,
        index_path,
        "ivfpq",
        {**ivf_meta(dim, len(cents), centroids, index_vec_col), **pq_meta(codebooks)},
        _pq_queries(queries, codebooks, query_id, query_vec_col, cents, nprobe),
    )
    return _adc_topk(corpus, qb, codebooks, corpus_id, k, "_cell")


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
) -> DataFrame:
    """Approximate top-k: sign-LSH bucket equi-join + exact rerank.

    The equi-join on bucket id replaces the cross join — at 100 TB this
    is a standard shuffle (or broadcast, if the query side is small)
    keyed on the bucket, candidates ~ n/2^planes per bucket.
    """
    qb = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_bucket", lsh_bucket("_qv", dim, n_planes))
    cb = corpus.select(
        F.col(corpus_id).alias(corpus_id), F.col(vec_col).alias("_cv")
    ).withColumn("_bucket", lsh_bucket("_cv", dim, n_planes))
    return _cosine_topk(cb, qb, "_bucket", corpus_id, "_cv", k)


def ann_ivfpq_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    codebooks: list[list[list[float]]],
    refine: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVFPQ shortlist + EXACT rerank — the FAISS IndexRefineFlat
    recipe (Jégou et al. 2011 §V "re-ranking with source coding"; FAISS
    pairs IndexIVFPQ with a refine stage the same way): ADC's m-lookup
    scores are quantized approximations, so the standard quality step
    keeps an oversized shortlist of ``k * refine`` candidates per query
    from the cheap path, reads TRUE vectors for only those candidates,
    and reranks by exact inner product. Recall approaches the exact
    search's while the full corpus is still touched only through
    m-byte codes (tests pin shortlist containment and the recall gain
    over raw ADC).

    Scale shape: the shortlist is queries x (k*refine) rows — metadata-
    sized — so fetching true vectors is ONE BroadcastHashJoin of the
    shortlist against the corpus (the corpus never shuffles and only
    shortlisted rows ever surface their float vectors); query vectors
    ride a second broadcast; the final per-query top-k reuses the
    shared WindowGroupLimit tail. Exact scores use the same sequential
    zip_with/aggregate fold as ``knn_topk``, so the whole path is
    DuckDB-oracle-replayable (gate ``ann_ivfpq_rerank``).
    """
    shortlist = ann_ivfpq_topk_mem(
        queries,
        corpus,
        k=int(k) * int(refine),
        dim=dim,
        codebooks=codebooks,
        query_id=query_id,
        corpus_id=corpus_id,
        vec_col=vec_col,
        n_cells=n_cells,
        nprobe=nprobe,
        centroids=centroids,
    ).select("query_id", corpus_id)
    cand = corpus.select(
        F.col(corpus_id), F.col(vec_col).alias("_cv")
    ).join(F.broadcast(shortlist), corpus_id)
    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = cand.join(F.broadcast(qv), "query_id").selectExpr(
        "query_id", f"`{corpus_id}`", f"{dot_sql('_qv', '_cv')} AS score"
    )
    return _topk_per_query(scored, corpus_id, k, "score")
