"""Sequence packing: assign documents to fixed-length training
sequences, GPT-style (concatenate the token stream in a deterministic
order, cut every ``seq_len`` tokens).

Pretraining pipelines do not feed one document per sample: documents
are laid end-to-end and the stream is chunked into fixed-length
sequences regardless of document boundaries (GPT-2/3, The Pile, LLaMA
data loaders all pack this way; the alternative — greedy first-fit
bin packing — is inherently sequential and is approximated in practice
by exactly this concat-and-chunk with boundary bookkeeping). The
operator computes each document's packing COORDINATES, which is the
distributable part of the job — the actual tensor assembly happens in
the data loader reading docs grouped by ``seq_first``:

  tok_start   0-based global offset of the doc's first token in the
              concatenated stream
  seq_first   index of the training sequence holding the first token
  seq_last    index of the sequence holding the last token
  n_splits    how many sequence boundaries the doc straddles
              (seq_last - seq_first; 0 = fits without splitting)
  seq_offset  position of the first token within seq_first

Scale design (the reason this is not one window): a global
``sum() OVER (ORDER BY ...)`` funnels every row through a single task
(Exchange SinglePartition). Instead the token counts go through
``joins.running_sum`` (range repartition, one stats row per partition
to the driver for the preceding-partition offsets, then a
per-partition running sum), and each doc's first token sits at its
inclusive running total minus its own count. See that helper for the
honest plan-shape note (two full-data exchanges of the frame being
packed) and why callers should pack the NARROW (id, n_tokens)
projection, not a payload-bearing frame.

Zero-token documents occupy no stream positions; they are assigned to
the sequence their offset points at (seq_first == seq_last,
n_splits = 0) so every input row keeps exactly one output row.
Negative or NULL token counts raise (validated by the same stats job
that computes the offsets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import running_sum


def pack_sequences(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    seq_len: int = 2048,
    order_cols: list | None = None,
    num_parts: int | None = None,
    base_offset: int = 0,
) -> DataFrame:
    """Add packing coordinates (tok_start, seq_first, seq_last,
    n_splits, seq_offset) for concat-and-chunk sequence packing of
    ``df`` in ``order_cols`` order: ``tok_start`` is the doc's
    ``joins.running_sum`` token total minus its own count, plus
    ``base_offset``. See the module docstring.

    ``base_offset`` supports INCREMENTAL (append) packing — the
    steady-state corpus-building shape, like ``incremental_dedup`` for
    dedup: pass the token total of the already-packed stream and the
    new batch's coordinates continue where it left off, without
    re-reading a single packed row. The caller persists the running
    total (``base_offset + sum(n_tokens)`` of the batch, available
    from a one-row agg) alongside the packed output.

    DETERMINISM CONTRACT: ``order_cols`` must be a TOTAL order (a
    unique key, e.g. a primary id). With ties, the within-partition
    running sum — hence every tok_start — depends on arbitrary
    partition-internal row order, so coordinates silently differ
    across reruns and the incremental ``base_offset`` contract breaks.
    If the natural sort key can tie, append the unique id as the last
    order column."""
    if seq_len <= 0:
        raise ValueError(f"pack_sequences: seq_len must be positive, got {seq_len}")
    if base_offset < 0:
        raise ValueError(
            f"pack_sequences: base_offset must be >= 0, got {base_offset}"
        )
    order_cols = order_cols or ["doc_id"]
    tok_start = (
        F.col("_cum") - F.col(tokens_col) + F.lit(base_offset)
    ).cast("long")
    # integer DIV, not float division: offsets in a 100 TB token stream
    # exceed the double's 2^53 exact-integer range
    return (
        running_sum(df, order_cols, tokens_col, num_parts=num_parts)
        .withColumn("tok_start", tok_start)
        .withColumn("seq_first", F.expr(f"tok_start DIV {seq_len}"))
        .withColumn("seq_last", F.expr(
            f"(tok_start + greatest(CAST({tokens_col} AS BIGINT), 1) - 1) DIV {seq_len}"
        ))
        .withColumn("n_splits", F.col("seq_last") - F.col("seq_first"))
        .withColumn("seq_offset", F.col("tok_start") % seq_len)
        .drop("_cum")
    )


def pack_pieces(
    packed: DataFrame,
    tokens_col: str = "n_tokens",
    seq_len: int = 2048,
) -> DataFrame:
    """Explode packing coordinates into the per-sequence piece map — the
    random-access loader's view: for every training sequence, which
    document slices compose it.

    Input is ``pack_sequences`` output (needs tok_start/seq_first/
    seq_last + the token count). Each doc emits one row per sequence it
    touches:

      seq_id       the training sequence
      piece_start  first token of the doc's slice, relative to the DOC
      piece_len    tokens the doc contributes to this sequence
      piece_pos    where the slice starts WITHIN the sequence

    ``groupBy(seq_id).agg(sort_array(collect_list(...)))`` then yields
    assembly instructions per sequence (see ``pack_assembly`` in
    plans/queries.py for the oracle-checked form). Zero-token docs emit
    nothing (they contribute no tokens to any sequence).

    INVARIANT: ``seq_len`` (and ``tokens_col``) must be the SAME values
    the ``pack_sequences`` call that produced ``packed`` used — the
    coordinates are meaningless under any other chunking. This is
    guarded at runtime: a zero-cost ``assert_true`` folded into BOTH
    derived coordinates (piece_len and piece_pos) re-derives
    seq_first/seq_last from tok_start and fails the job loudly on
    mismatch instead of emitting negative/garbage slices. (Fires
    whenever piece_len or piece_pos is consumed; an action that prunes
    both — e.g. a bare count() — skips the guard along with the
    columns.)

    Scale: a narrow explode — each doc expands to n_splits+1 rows, and
    the total output is bounded by input_rows + total_tokens/seq_len
    (one extra row per boundary crossed), with no shuffle at all; the
    loader's groupBy(seq_id) is the one shuffle, keyed on the sequence.
    """
    if seq_len <= 0:
        raise ValueError(f"pack_pieces: seq_len must be positive, got {seq_len}")
    n = F.col(tokens_col).cast("long")
    seq_id = F.col("_seq")
    # slice bounds in DOC coordinates: tokens of this doc that land in
    # sequence s are [s*L - tok_start, (s+1)*L - tok_start) clamped to
    # [0, n)
    lo = F.greatest(seq_id * seq_len - F.col("tok_start"), F.lit(0))
    hi = F.least(
        (seq_id + 1) * seq_len - F.col("tok_start"), n
    )
    # seq_len-consistency guard: re-derive seq_first from tok_start and
    # assert it matches what pack_sequences recorded. assert_true is
    # NULL when passing, so coalesce(...) adds exactly 0 to piece_len —
    # a zero-cost loud failure instead of silent negative slices when
    # the caller passes a different seq_len than the packing used.
    # (Folded into an OUTPUT column — a standalone dropped guard column
    # would be pruned by Catalyst and never evaluated.)
    # Both coordinates are re-derived: seq_first alone misses
    # mismatches where tok_start lands in chunk 0 under both seq_lens
    # (e.g. packed at 64, exploded at 128 — seq_first agrees at 0 but
    # the doc's true span does not), which would emit negative or
    # silently truncated piece_len.
    guard = F.coalesce(
        F.assert_true(
            (F.expr(f"tok_start DIV {seq_len}") == F.col("seq_first"))
            & (
                F.expr(
                    f"(tok_start + greatest(CAST({tokens_col} AS BIGINT), 1) - 1)"
                    f" DIV {seq_len}"
                )
                == F.col("seq_last")
            ),
            F.lit(
                f"pack_pieces: seq_len={seq_len} does not match the "
                "seq_len used by pack_sequences for this frame"
            ),
        ).cast("long"),
        F.lit(0),
    )
    return (
        packed.filter(n > 0)
        .withColumn(
            "_seq", F.explode(F.sequence(F.col("seq_first"), F.col("seq_last")))
        )
        .select(
            *[c for c in packed.columns if c not in ("seq_first", "seq_last",
                                                     "n_splits", "seq_offset")],
            seq_id.alias("seq_id"),
            lo.alias("piece_start"),
            (hi - lo + guard).alias("piece_len"),
            (F.col("tok_start") + lo - seq_id * seq_len + guard).alias(
                "piece_pos"
            ),
        )
    )
