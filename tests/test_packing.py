"""Sequence packing (operators/packing.py): coordinate correctness
against a driver-side reference, degenerate inputs, and the
no-single-partition-stage scale contract."""

from __future__ import annotations

import pathlib
import sys

import pytest
from pyspark.sql import functions as F

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.packing import (  # noqa: E402
    pack_pieces,
    pack_sequences,
)


def reference_pack(counts, seq_len):
    out, acc = {}, 0
    for doc_id, n in sorted(counts):
        start = acc
        last = start + max(n, 1) - 1
        out[doc_id] = (
            n,
            start,
            start // seq_len,
            last // seq_len,
            last // seq_len - start // seq_len,
            start % seq_len,
        )
        acc += n
    return out


def test_pack_matches_reference_across_partitions(spark):
    import random

    rng = random.Random(3)
    rows = [(i, rng.randint(0, 700)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    for num_parts in (1, 7):  # offsets must be partitioning-invariant
        got = {
            r.doc_id: (
                r.n_tokens, r.tok_start, r.seq_first, r.seq_last,
                r.n_splits, r.seq_offset,
            )
            for r in pack_sequences(
                df, seq_len=512, num_parts=num_parts
            ).collect()
        }
        assert got == reference_pack(rows, 512), f"num_parts={num_parts}"


def test_pack_zero_token_docs_keep_one_row(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 0), (3, 50)], ["doc_id", "n_tokens"]
    )
    got = {r.doc_id: r for r in pack_sequences(df, seq_len=64).collect()}
    assert len(got) == 3
    # doc 2 occupies no positions: doc 3 starts where doc 1 ended
    assert got[2].tok_start == 100 and got[3].tok_start == 100
    assert got[2].seq_first == got[2].seq_last and got[2].n_splits == 0


def test_pack_rejects_bad_inputs(spark):
    df = spark.createDataFrame([(1, -5)], ["doc_id", "n_tokens"])
    with pytest.raises(ValueError, match="negative"):
        pack_sequences(df)
    # NULL counts would shift every successor as if the row weighed 0
    # while the row itself got NULL coordinates — rejected, not silent
    withnull = spark.createDataFrame(
        [(1, 5), (2, None)], "doc_id long, n_tokens long"
    )
    with pytest.raises(ValueError, match="NULL"):
        pack_sequences(withnull)
    ok = spark.createDataFrame([(1, 5)], ["doc_id", "n_tokens"])
    with pytest.raises(ValueError, match="seq_len must be positive"):
        pack_sequences(ok, seq_len=0)


def test_pack_empty_frame(spark):
    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_sequences(df).count() == 0


def test_pack_pieces_reassembles_stream_exactly(spark):
    """The piece map must tile the concatenated token stream: every doc
    is fully covered by its pieces in order, every sequence except the
    last sums to exactly seq_len tokens, and piece positions are
    contiguous within each sequence."""
    import random

    rng = random.Random(9)
    rows = [(i, rng.randint(0, 300)) for i in range(80)]
    L = 128
    packed = pack_sequences(
        spark.createDataFrame(rows, ["doc_id", "n_tokens"]), seq_len=L
    )
    pieces = pack_pieces(packed, seq_len=L).collect()

    by_doc, by_seq = {}, {}
    for r in pieces:
        by_doc.setdefault(r.doc_id, []).append(r)
        by_seq.setdefault(r.seq_id, []).append(r)
    counts = dict(rows)
    # per doc: pieces are contiguous [0, n) slices in seq order
    for doc_id, ps in by_doc.items():
        ps.sort(key=lambda r: r.seq_id)
        assert ps[0].piece_start == 0
        assert sum(p.piece_len for p in ps) == counts[doc_id]
        for a, b in zip(ps, ps[1:]):
            assert b.piece_start == a.piece_start + a.piece_len
    # zero-token docs emit nothing; all others emit
    assert set(by_doc) == {d for d, n in rows if n > 0}
    # per sequence: pieces tile [0, L) (the last sequence may be short)
    total = sum(counts.values())
    last_seq = (total - 1) // L
    for seq_id, ps in by_seq.items():
        ps.sort(key=lambda r: r.piece_pos)
        assert ps[0].piece_pos == 0
        for a, b in zip(ps, ps[1:]):
            assert b.piece_pos == a.piece_pos + a.piece_len
        filled = sum(p.piece_len for p in ps)
        assert filled == (L if seq_id < last_seq else total - last_seq * L)


def test_pack_incremental_append_continues_the_stream(spark):
    """base_offset = incremental packing: splitting a corpus into two
    batches and packing the second with the first's token total must
    yield coordinates identical to packing everything at once."""
    import random

    rng = random.Random(5)
    rows = [(i, rng.randint(0, 200)) for i in range(120)]
    full = {
        r.doc_id: (r.tok_start, r.seq_first, r.seq_last, r.seq_offset)
        for r in pack_sequences(
            spark.createDataFrame(rows, ["doc_id", "n_tokens"]), seq_len=256
        ).collect()
    }
    first, second = rows[:70], rows[70:]
    base = sum(n for _, n in first)
    appended = {
        r.doc_id: (r.tok_start, r.seq_first, r.seq_last, r.seq_offset)
        for r in pack_sequences(
            spark.createDataFrame(second, ["doc_id", "n_tokens"]),
            seq_len=256,
            base_offset=base,
        ).collect()
    }
    assert appended == {d: full[d] for d in appended}
    with pytest.raises(ValueError, match="base_offset must be >= 0"):
        pack_sequences(
            spark.createDataFrame(first, ["doc_id", "n_tokens"]),
            base_offset=-1,
        )


def test_pack_pieces_rejects_bad_seq_len(spark):
    df = spark.createDataFrame([(1, 5)], ["doc_id", "n_tokens"])
    with pytest.raises(ValueError, match="seq_len must be positive"):
        pack_pieces(pack_sequences(df, seq_len=8), seq_len=-1)


def test_pack_plan_has_no_single_partition_stage(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 90).alias("n_tokens")
    )
    plan = pack_sequences(df, seq_len=256)._jdf.queryExecution().explainString(
        spark.sparkContext._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "SinglePartition" not in plan


def test_pack_pieces_guard_raises_on_mismatched_seq_len(spark):
    # pack at 64, explode at 32 — the folded assert_true must fail the
    # job when piece_len is consumed (a bare count() prunes the column
    # and legitimately skips the guard; consuming actions are the ones
    # that would propagate garbage slices downstream)
    df = spark.createDataFrame(
        [(i, 5 + (i % 40)) for i in range(100)], ["doc_id", "n_tokens"]
    )
    packed = pack_sequences(df, seq_len=64)
    with pytest.raises(Exception, match="does not match"):
        pack_pieces(packed, seq_len=32).agg(F.sum("piece_len")).collect()
    # the seq_first check alone would miss both of these (tok_start
    # lands in chunk 0 under either seq_len) — the seq_last
    # re-derivation must catch them
    short = pack_sequences(
        spark.createDataFrame([(1, 60), (2, 10)], ["doc_id", "n_tokens"]),
        seq_len=64,
    )
    with pytest.raises(Exception, match="does not match"):
        pack_pieces(short, seq_len=128).agg(F.sum("piece_len")).collect()
    one = pack_sequences(
        spark.createDataFrame([(1, 50)], ["doc_id", "n_tokens"]), seq_len=64
    )
    with pytest.raises(Exception, match="does not match"):
        pack_pieces(one, seq_len=32).agg(F.sum("piece_len")).collect()
    # matching seq_len consumes cleanly and conserves the token stream
    total = (
        pack_pieces(packed, seq_len=64).agg(F.sum("piece_len")).collect()[0][0]
    )
    assert total == df.agg(F.sum("n_tokens")).collect()[0][0]


def test_pack_offsets_broadcast_path_matches_literal_map(spark, monkeypatch):
    """When the partition->offset map renders past the one small-side
    bound (joins.INLINE_MAX_BYTES), joins.running_sum swaps the
    literal array offset lookup for a broadcast join (the literal's
    expression and serialized plan would grow with the partition
    count). Force the join path and check it
    is coordinate-identical, plan-clean, and leaves no helper column.
    """
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import joins

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    key = lambda r: (r.doc_id, r.tok_start, r.seq_first, r.seq_last)  # noqa: E731
    lit = sorted(
        map(key, pack_sequences(df, seq_len=64, num_parts=8).collect())
    )
    # fixture-scoped patch (not a bare global mutation): restored by
    # pytest even on assertion failure, and safe under threaded runs
    monkeypatch.setattr(joins, "INLINE_MAX_BYTES", 0)
    packed = pack_sequences(df, seq_len=64, num_parts=8)
    assert sorted(map(key, packed.collect())) == lit
    assert "_poff" not in packed.columns and "_part" not in packed.columns
    plan = packed._jdf.queryExecution().explainString(
        spark.sparkContext._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan
    # global_index rides the same helper — check the weight-1 case
    gi = joins.global_index(df, ["doc_id"], num_parts=8)
    assert "_poff" not in gi.columns
    assert [r._rn for r in gi.orderBy("doc_id").collect()] == list(
        range(1, 501)
    )


def test_running_sum_rejects_bad_weights(spark):
    """Offsets are integer counts: a fractional weight would truncate
    differently on the inline-array and broadcast offset tiers (totals
    changing with the partition count), and a negative or NULL weight
    would shift every later total. The one stats job raises on each,
    ungrouped and grouped alike."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        running_sum,
    )

    def frame(w):
        return spark.createDataFrame(
            [(i, "g" if i % 2 else None, w if i == 7 else 1.0) for i in range(20)],
            "id long, g string, w double",
        )

    for groups in ((), ["g"]):
        for w, what in ((1.5, "non-integral"), (-2.0, "negative"), (None, "NULL")):
            with pytest.raises(ValueError, match=what):
                running_sum(frame(w), ["id"], "w", groups, num_parts=4)
        # integral-valued doubles still pass
        out = running_sum(frame(2.0), ["id"], "w", groups, num_parts=4)
        assert out.count() == 20 and out.columns == ["id", "g", "w", "_cum"]


@pytest.mark.parametrize("num_parts", [1, 3, 8])
def test_running_sum_grouped_matches_python_and_ungrouped_tiers(
    spark, monkeypatch, num_parts
):
    """``running_sum(group_cols=[g])`` equals a per-group Python running
    total on one group, several groups, a NULL group and the empty
    frame; on the one-group frame it also equals the ungrouped sum on
    both offset tiers (inline array, and the broadcast join forced by
    ``INLINE_MAX_BYTES = 0``). Totals are BIGINT on every input."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import joins

    def expected(rows):
        acc, out = {}, {}
        for i, g, w in sorted(rows):
            acc[g] = acc.get(g, 0) + w
            out[i] = acc[g]
        return out

    def got(rows, groups, joined=True):
        df = spark.createDataFrame(rows, "id long, g string, w int")
        out = joins.running_sum(df, ["id"], "w", groups, num_parts)
        assert out.columns == ["id", "g", "w", "_cum"]
        assert out.schema["_cum"].dataType.simpleString() == "bigint"
        sums = {r.id: r._cum for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastHashJoin" in plan) == (joined and bool(rows)), plan
        return sums

    one = [(i, "a", i % 4) for i in range(40)]
    inputs = {
        "one": one,
        "several": [(i, "abc"[i % 3], i % 5) for i in range(60)],
        "null": [(i, None if i % 4 == 0 else "ab"[i % 2], 1 + i % 3) for i in range(50)],
        "empty": [],
    }
    for name, rows in inputs.items():
        assert got(rows, ["g"]) == expected(rows), name
    want = expected(one)
    assert got(one, [], joined=False) == want
    monkeypatch.setattr(joins, "INLINE_MAX_BYTES", 0)
    assert got(one, []) == want
