"""The reference pipeline (EP1, reference src/main.py:120-158) restated
as a batch DataFrame DAG.

Stages (text mode — audio models live in ml/ and are optional):
  ingest (catalog scan + ledger anti-join)        reference src/aws_bucket.py:139-221
  -> chunk (W3 generalized)                       reference src/transcription.py:157
  -> embed (deterministic hash-mock U4,           reference src/embedding_engine.py:15-22
     or a real model UDF from ml/ when available)
  -> vector-index sink (S7)                       reference src/embedding_engine.py:74-84
  -> top-k query capability (J6)                  reference src/embedding_engine.py:24-30

Each stage is a DataFrame -> DataFrame function; `run_once` wires them.
The streaming shell (streaming.stream.run_stream) runs the same DAG per
micro-batch via foreachBatch, replacing the reference's poll loop.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_sql
from ..operators.joins import sql_string
from ..operators.text import chunk_text
from ..operators.vectors import knn_topk, l2_normalize_sql
from ..sources import ledger as ledger_mod
from ..sources import sinks

EMBED_DIM = 16


def mock_embed_sql(col_sql: str, dim: int = EMBED_DIM) -> str:
    """Deterministic hash-based embedding (U4-mock, FIXTURES.md §2) of a
    string SQL expression: component i = md5_long(text || ':' || i)
    scaled to [-1, 1), then L2-normalized — keeps the
    embed->index->search path value-checkable without a model."""
    comps = ", ".join(
        "CAST(" + md5_long_sql(f"concat({col_sql}, ':{i}')")
        + " % 2000000 / 1000000.0D - 1.0D AS DOUBLE)"
        for i in range(dim)
    )
    return l2_normalize_sql(f"array({comps})")


def embed_chunks(chunks: DataFrame, text_col: str = "chunk_text") -> DataFrame:
    """Chunk rows -> vector-index rows (vec_id, embedding, text, source_file).

    vec_id is the COMPOSITE KEY ``doc_id ':' chunk_idx`` (NULL doc ids
    fall back to a content-derived key, see comment) — unique by
    construction (no hash-collision exposure at any corpus size, unlike
    a 60-bit hash which passes the birthday bound near ~10^9 chunks)
    and, unlike monotonically_increasing_id, identical across reruns
    and repartitioning, so a rebuilt index keeps every vec_id stable
    for cross-run joins/caching (matches the reproducibility the
    reference's per-file ``{0: content}`` map trivially had,
    /root/reference/src/embedding_engine.py:82).
    """
    # concat_ws silently SKIPS null fields, so every NULL-doc_id doc
    # would collide onto the same bare 'chunk_idx' vec_ids; the
    # coalesce gives such docs a per-chunk content-derived key instead
    # (distinct unless the chunks are byte-identical, in which case
    # the colliding rows are identical anyway)
    text = f"`{text_col}`"
    noid = sql_string("\x00noid:")
    doc_key = f"coalesce(CAST(doc_id AS STRING), concat({noid}, md5({text})))"
    return chunks.selectExpr(
        f"concat_ws(':', {doc_key}, CAST(chunk_idx AS STRING)) AS vec_id",
        f"{mock_embed_sql(text)} AS embedding",
        f"{text} AS text",
        "CAST(doc_id AS STRING) AS source_file",
    )


def run_once(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    ledger_path: str | None = None,
    chunk_words: int = 32,
) -> DataFrame:
    """One batch cycle of the reference loop (src/main.py:144-150):
    pending docs -> chunk -> embed -> write vector index. Returns the
    newly-indexed batch (also persisted to index_path).

    Incremental (ledger) mode is retry-idempotent: a crash between the
    index append and the ledger append is healed on retry by skipping
    already-indexed docs (anti-join on the index's source_file) while
    still ledgering them — vec_ids stay unique without a dedup-on-read
    pass in the search path."""
    if ledger_path:
        led = ledger_mod.load_ledger(spark, ledger_path)
        docs = ledger_mod.pending(
            docs.withColumn("key", F.expr("CAST(doc_id AS STRING)")), led
        )
        # Pin the pending set: the index write and the ledger append are
        # two separate actions, and re-evaluating a live source between
        # them could mark docs processed that were never indexed (a doc
        # landing in the scan after the write would be ledgered and then
        # skipped forever). One materialization serves both.
        docs = docs.localCheckpoint(eager=True)
        # Crash idempotency: the index append and the ledger append are
        # two non-atomic actions. A failure BETWEEN them leaves docs
        # indexed but unledgered; a naive retry would re-embed them and
        # append duplicate vec_ids. Self-heal at origin: docs whose
        # vectors already landed (source_file = doc_id in the existing
        # index) are skipped for embedding but STILL ledgered below, so
        # the retry converges — no duplicate vectors, no forever-pending
        # doc. Cost: one columnar scan of the index's source_file column
        # per incremental run (nothing at all on the first run). Both
        # join sides are STRING, so ids like '01' and '1' stay distinct.
        # The index side is not made distinct first: the anti join only
        # asks whether a source_file exists, and a distinct would cost a
        # shuffle-map stage and a Spark job of its own per run.
        try:
            indexed = sinks.read_vector_index(spark, index_path).select(
                "source_file"
            )
            embed_docs = docs.join(
                indexed,
                docs["doc_id"].cast("string") == indexed["source_file"],
                "left_anti",
            )
        except AnalysisException as e:
            # ONLY the missing-path error means "first run" — the
            # load_ledger rule: a transient analysis failure on an
            # EXISTING index must fail the batch, not silently disable
            # the crash-idempotency heal (which would re-append every
            # pending doc's vectors — the exact duplicates the heal
            # exists to prevent)
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                embed_docs = docs  # no index yet — first run
            else:
                raise
    else:
        embed_docs = docs
    chunks = chunk_text(embed_docs, chunk_words=chunk_words)
    index = embed_chunks(chunks)
    # incremental (ledger) mode APPENDS: the pending set is only the
    # docs not yet ledgered, and the default static overwrite would
    # truncate the whole index path first — destroying every
    # previously-indexed vector while its doc stays ledgered (never
    # re-indexed), and wiping the index to zero rows on an empty
    # pending set. One-shot (no-ledger) mode keeps overwrite.
    sinks.write_vector_index(
        index, index_path, mode="append" if ledger_path else "overwrite"
    )
    if ledger_path:
        ledger_mod.append_processed(docs.select("doc_id"), "doc_id", ledger_path)
    return index


def search(
    spark: SparkSession, index_path: str, query_texts: DataFrame, k: int = 5
) -> DataFrame:
    """Top-k retrieval over a persisted index (reference
    src/embedding_engine.py:88-99 load + IndexFlatIP search)."""
    index = sinks.read_vector_index(spark, index_path)
    q = query_texts.select(
        F.col("query_id"), F.expr(mock_embed_sql("query_text")).alias("embedding")
    )
    return knn_topk(q, index, k=k, metric="dot")


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    splits: dict[str, float] | None = None,
    seed: int = 0,
    min_tokens: int = 8,
    min_quality: float = 0.3,
    max_dup_trigram: float = 0.3,
) -> DataFrame:
    """Raw documents -> training-ready corpus ledger, in one call: the
    end-to-end hygiene pipeline a training-data team actually runs
    (quality filter -> canonicalize -> content dedup -> split assign),
    with one auditable row PER INPUT DOCUMENT recording why it was kept
    or dropped.

    Stages (each an existing oracle-checked operator):
      1. ``quality_filter`` — Gopher-rule keep/drop on the raw text;
      2. ``normalize_text`` — canonicalization, so case/whitespace
         variants collapse under content dedup;
      3. ``dedup_corpus`` over the normalized text of quality-passing
         docs only (no point clustering docs already dropped);
      4. ``assign_split`` — deterministic train/val/test labels for the
         final keeps (hash-keyed: stable under reruns and corpus growth).

    Returns (doc_id, keep_quality, component_id, keep_dedup, keep,
    split): ``component_id``/``keep_dedup`` are NULL for docs that never
    reached dedup; ``split`` is non-NULL exactly for final keeps.

    Scale shape: stages 1-2 are narrow scan-side projections; dedup
    inherits the banded-LSH shuffle and the two-tier closure (driver
    union-find while the edge list is at most
    ``spark.sql.autoBroadcastJoinThreshold`` bytes, pointer-jumping
    rounds above it); the only added joins are on doc_id (a semi join into dedup and a left
    join back out), both AQE-managed.
    """
    from ..operators.dedup import dedup_corpus
    from ..operators.sampling import assign_split
    from ..operators.text import normalize_text, quality_filter

    qf = quality_filter(
        df, id_col, text_col,
        min_tokens=min_tokens, min_quality=min_quality,
        max_dup_trigram=max_dup_trigram,
    ).select("doc_id", F.col("keep").alias("keep_quality"))
    # Pin the two-column quality verdict once (lazy; materializes at the
    # first downstream action): dedup_corpus evaluates its input lineage
    # several times (exact-edge build, LSH-edge build, closure seed), and
    # each evaluation would otherwise replay the Gopher tokenize pipeline
    # over the full corpus. (doc_id, keep_quality) is the cheapest frame
    # in this plan to materialize; the normalize regex that remains in
    # the replayed lineage is a single linear pass.
    from ..operators.pinning import pin

    qf = pin(qf)
    norm = normalize_text(df, id_col, text_col)
    keep_ids = qf.filter(F.col("keep_quality")).select("doc_id")
    cand = norm.join(keep_ids, "doc_id", "left_semi")
    # vertices from the PINNED quality verdict (round-15, guide §1.2):
    # cand's id set IS the quality-keep set (norm is one row per input
    # row, the semi join only filters), so deriving the closure's
    # vertex seed from cand would replay the scan -> normalize ->
    # semi-join lineage a third time just to list ids the pinned qf
    # already holds. Duplicate ids (duplicate input rows) are harmless
    # — the closure groups by vertex.
    dd = dedup_corpus(
        cand, id_col="doc_id", text_col="norm_text", vertices=keep_ids
    ).select("doc_id", "component_id", F.col("keep").alias("keep_dedup"))
    out = qf.join(dd, "doc_id", "left").withColumn(
        "keep", F.col("keep_quality") & F.coalesce(F.col("keep_dedup"), F.lit(False))
    )
    out = assign_split(out, "doc_id", splits, seed=seed)
    return out.select(
        "doc_id",
        "keep_quality",
        "component_id",
        "keep_dedup",
        "keep",
        F.when(F.col("keep"), F.col("split")).alias("split"),
    )
