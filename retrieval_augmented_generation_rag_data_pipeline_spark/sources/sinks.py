"""Sinks (SURVEY.md §2.1 S5-S8).

The FAISS index + pickle sidecar pair (reference
src/embedding_engine.py:74-99) is unified into one flat Parquet
vector-index table; per-file identity is the ``source_file`` column, so
writes and scans cost O(files written), not O(documents indexed).

The vector index has one fixed schema, ``VECTOR_INDEX_DDL``: the writer
refuses any other frame and the reader declares it instead of inferring
it, so a read of the index starts no Spark job (Parquet schema inference
runs one to merge the file footers) and the two cannot drift apart.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

# What pipeline.embed_chunks writes; read_vector_index declares it and
# write_vector_index refuses anything else.
VECTOR_INDEX_DDL = (
    "vec_id STRING, embedding ARRAY<DOUBLE>, text STRING, source_file STRING"
)


def ivf_meta(
    dim: int, n_cells: int, centroids: list[list[float]] | None, vec_col: str
) -> dict:
    """Canonical IVF-index metadata: everything a later probe must agree
    with. Centroids collapse to a short fingerprint (6-decimal-rounded
    md5) so the sidecar stays metadata-sized at any n_cells x dim;
    ``None`` means the deterministic default pseudo-random family, which
    is fully determined by (dim, n_cells)."""
    if centroids is None:
        chash = "default-family"
    else:
        canon = json.dumps(
            [[round(float(x), 6) for x in c] for c in centroids]
        )
        chash = hashlib.md5(canon.encode("utf-8")).hexdigest()
    return {
        "dim": int(dim),
        "n_cells": int(n_cells),
        "vec_col": vec_col,
        "centroid_hash": chash,
    }


def _hadoop_path_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return p, fs


def write_sidecar_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text sidecar through the Hadoop FileSystem API, so
    the same call works on local paths and object stores (s3a://...)
    alike — no local-filesystem assumption."""
    p, fs = _hadoop_path_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_sidecar_text(spark: SparkSession, path: str) -> str | None:
    """Read a sidecar written by ``write_sidecar_text``; None if absent."""
    p, fs = _hadoop_path_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    baos = spark._jvm.java.io.ByteArrayOutputStream()
    spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
        stream, baos, spark._jsc.hadoopConfiguration(), True
    )
    return bytes(baos.toByteArray()).decode("utf-8")


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON sink (reference src/transcription.py:349-351)."""
    df.write.mode(mode).json(path)


def write_dialogue_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Formatted-dialogue text sink (reference src/transcription.py:353-359).
    Expects a single 'line' column (operators.text.format_dialogue)."""
    df.select(F.col("line").alias("value")).write.mode(mode).text(path)


def write_vector_index(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Vector-index sink (S7): (vec_id, embedding, text, source_file) as
    flat Parquet. The reference's per-file FAISS layout
    (src/embedding_engine.py:74-84) is the ``source_file`` column, so an
    append adds one file per write partition, not one per document.

    Two checks raise before anything is written. A frame whose column
    names or types differ from ``VECTOR_INDEX_DDL``: the reader declares
    that schema rather than inferring it, so a file written with any
    other would read back wrong. An append onto an old
    ``source_file=*/`` layout: Spark reads a mixed root as one layout,
    dropping rows."""
    want = DataType.fromDDL(VECTOR_INDEX_DDL).simpleString()
    got = df.schema.simpleString()
    if got != want:
        raise ValueError(f"vector index {path!r} takes {want}, not {got}")
    if mode == "append":
        p, fs = _hadoop_path_fs(df.sparkSession, f"{path}/source_file=*")
        if fs.globStatus(p):
            raise ValueError(
                f"append to {path!r}, which holds a per-source_file "
                "partitioned index; rewrite it with mode='overwrite'"
            )
    df.write.mode(mode).parquet(path)


def read_vector_index(spark: SparkSession, path: str) -> DataFrame:
    """Vector-index load (S8, reference src/embedding_engine.py:88-99).
    A ``source_file`` filter replaces the per-file .faiss open; it skips
    Parquet row groups by their min/max stats.

    The schema is declared (``VECTOR_INDEX_DDL``, which the writer
    enforces), not inferred: inference merges the file footers in a
    Spark job, one per read, and every ``run_once`` heal and every
    ``search`` reads the index. A missing index still raises the
    ``PATH_NOT_FOUND`` analysis error that ``run_once`` takes as its
    first run."""
    return spark.read.schema(VECTOR_INDEX_DDL).parquet(path)


def _guard_sidecar_append(spark, sidecar_path: str, meta: dict, mode: str) -> None:
    """Appending to an existing index with DIFFERENT quantizer params
    would pass the reader's sidecar assert (the sidecar records the new
    params) while the previously-written rows stay binned by the old
    ones — the exact silent-wrong-neighbors failure the sidecar exists
    to prevent. On mode='append', an existing sidecar must match the
    new metadata exactly; raises BEFORE any data is written."""
    if mode != "append":
        return
    existing = read_sidecar_text(spark, sidecar_path)
    if existing is not None and json.loads(existing) != meta:
        raise ValueError(
            f"append to {sidecar_path.rsplit('/', 1)[0]!r} with different "
            "quantizer parameters than the existing index sidecar; "
            "rewrite with mode='overwrite' or reuse the original "
            "centroids"
        )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist a vector corpus as an IVF inverted-list LAYOUT: parquet
    partitioned by the coarse-quantizer cell (`_cell=<k>/` directories).

    This is FAISS's inverted-list storage restated as a partitioned
    table (reference src/embedding_engine.py:74-84 persists a flat
    index): a search that probes ``nprobe`` cells prunes every other
    partition at the metadata level — the scan never opens the files
    (see operators.vectors.ann_ivf_topk_indexed, plan-asserted in
    tests/test_plans.py). Pass the same ``centroids`` (e.g. from
    ``train_ivf_centroids``) at write and search time.

    The quantizer parameters are persisted alongside the data as an
    ``_ivf_meta.json`` sidecar (underscore-prefixed, so Spark's file
    listing skips it like ``_SUCCESS``): a probe with a different
    dim / n_cells / centroid set would silently return wrong neighbors,
    so ``ann_ivf_topk_indexed`` asserts against the sidecar up front.

    Cells come from ``vectors.assign_cells_exact``: literal centroids up
    to ``CELL_LITERAL_MAX`` cells, a broadcast centroid table past it.
    Both tiers fold the same doubles, so the cells (and the sidecar)
    do not depend on the tier, and the caller's partitioning — which
    sets the written file layout — is kept. A NULL vector lands in the
    NULL cell.
    """
    from ..operators.vectors import assign_cells_exact, resolve_centroids

    cents = resolve_centroids(dim, n_cells, centroids)
    meta = ivf_meta(dim, len(cents), centroids, vec_col)
    sidecar = path.rstrip("/") + "/_ivf_meta.json"
    _guard_sidecar_append(corpus.sparkSession, sidecar, meta, mode)
    (
        assign_cells_exact(corpus.select(F.col(corpus_id), F.col(vec_col)), cents, vec_col)
        .write.mode(mode)
        .partitionBy("_cell")
        .parquet(path)
    )
    write_sidecar_text(corpus.sparkSession, sidecar, json.dumps(meta))


def morton_key_sql(col_a: str, col_b: str, bits: int = 16) -> str:
    """Morton (Z-order) curve key: interleave the low ``bits`` bits of
    two non-negative int columns (a on even positions, b on odd). Rows
    close on the curve are close in BOTH dimensions, so sorting by the
    key clusters parquet row-group min/max stats for a AND b at once —
    the standard multi-column data-skipping layout (Delta/Iceberg
    OPTIMIZE ZORDER does the same thing).

    Emitted as one engine-portable SQL string (>>, &, <<, + behave
    identically in Spark SQL and DuckDB), so the key is
    oracle-checkable verbatim.

    Operands are CAST to BIGINT inside the generated SQL: with the
    default bits=16 the interleave shifts up to <<31, which on a
    32-bit INT column overflows into the sign bit and mis-orders the
    curve. Inputs must be non-negative; values >= 2**bits contribute
    only their low ``bits`` bits, so distinct rows can alias into the
    same curve region (clustering quality, not correctness) — pick
    ``bits`` to cover the value range.

    ``bits`` is capped at 31: at 32 the b-operand's top bit lands on
    BIGINT bit 63 (the sign), making large-b keys NEGATIVE — they sort
    FIRST and interleave unrelated ranges into the same files, which
    silently defeats min/max data skipping."""
    if not 1 <= bits <= 31:
        raise ValueError(
            f"bits must be in [1, 31] (got {bits}): bit 2*{bits}-1 "
            "would reach the BIGINT sign bit and invert the curve order"
        )
    a = f"CAST({col_a} AS BIGINT)"
    b = f"CAST({col_b} AS BIGINT)"
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def check_sidecar(spark: SparkSession, index_path: str, asked: dict) -> None:
    """Probe-side guard of an index written by ``write_ivf_index``:
    raise unless its ``_ivf_meta.json`` sidecar exists and matches
    ``asked`` (``ivf_meta``) on every key. A mismatched quantizer would
    silently return wrong neighbors, and a missing sidecar (a foreign or
    partially-written index) leaves the quantizer unverifiable, which is
    as dangerous."""
    label = f"IVF index at {index_path}"
    params = "/".join(asked)
    raw = read_sidecar_text(spark, f"{index_path.rstrip('/')}/_ivf_meta.json")
    if raw is None:
        raise ValueError(
            f"{label} has no _ivf_meta.json sidecar; cannot verify it "
            f"was written with this probe's quantizer ({params}). "
            "Rebuild with write_ivf_index."
        )
    written = json.loads(raw)
    bad = [
        f"{k} (index={written.get(k)!r}, probe={v!r})"
        for k, v in asked.items()
        if written.get(k) != v
    ]
    if bad:
        raise ValueError(
            f"{label} was written with a different quantizer than this "
            f"probe: mismatched {', '.join(bad)}. Probe with the same "
            f"{params} the index was built with, or rebuild the index."
        )
