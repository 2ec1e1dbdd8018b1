"""Broadcast Bloom-filter membership pre-filter and exact anti-join.

The reference deduplicates new bucket files against an already-processed
ledger with a driver-side Python set (`/root/reference/src/aws_bucket.py`
tracked-files check) — fine for thousands of keys, impossible for the
billions of keys a 100 TB ingest ledger holds. The classic scale answer
(used by Spark's own runtime row-level filtering, and by every
warehouse's semi-join reduction) is a Bloom filter:

- **build**: one narrow scan of the key set computes k bit positions per
  key (JVM-side xxhash64), a single `groupBy(word).bit_or` shuffle folds
  them into a bitmap of m/64 longs, and the driver collects only that
  bitmap (m bits total — ~1.2 GB for 1e9 keys at 1% fpp, broadcastable
  where a 1e9-entry hash relation is not).
- **probe**: positions are computed JVM-side again; a vectorized Arrow
  pandas UDF tests bits against the broadcast numpy bitmap (one gather +
  shift per hash, no per-row Python).
- **exactness**: Bloom "no" is definitive, Bloom "yes" has fpp false
  positives — so `bloom_anti_join` re-checks only the "yes" rows with a
  real left-anti join. The join's shuffle therefore carries
  |members| + fpp·|probe| rows instead of the whole probe table.

Parameter math is the standard formulation (Bloom, CACM 1970):
m = -n·ln(p)/ln(2)^2, k = (m/n)·ln(2).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import NumericType


def _position_cols(col: Column, k: int, m: int) -> list[Column]:
    """k bit positions in [0, m) for a key: pmod(xxhash64(key, i), m).

    Seeded by hashing the key together with the hash index, so both the
    build and probe side derive identical positions JVM-side (no Python
    in the hashing hot path).
    """
    return [
        F.pmod(F.xxhash64(col.cast("string"), F.lit(i)), F.lit(m))
        for i in range(k)
    ]


def bloom_params(n: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) for expected n items at false-positive rate fpp.

    m is rounded up to a multiple of 64 so the bitmap is whole longs.
    """
    if n <= 0:
        return 64, 1
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _fold_bitmap_words(keys: DataFrame, key_col: str, m: int, k: int) -> list:
    """One distributed pass: explode the k positions mod m, fold into
    (word_index, bit_or) rows — at most m/64 rows reach the driver
    regardless of |keys|.
    """
    pos = F.explode(F.array(*_position_cols(F.col(key_col), k, m))).alias("p")
    return (
        keys.select(pos)
        .select(
            F.shiftright("p", 6).alias("w"),
            # variable shift amount needs the SQL form (the python
            # F.shiftleft only accepts a literal bit count)
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )


def _rows_to_bitmap(rows: list, m: int) -> np.ndarray:
    bitmap = np.zeros(m // 64, dtype=np.uint64)
    for r in rows:
        bitmap[r.w] = np.uint64(r.bits & 0xFFFFFFFFFFFFFFFF)
    return bitmap


def build_bloom(
    keys: DataFrame,
    key_col: str,
    fpp: float = 0.01,
    expected_items: int | None = None,
    measured_distinct: int | None = None,
) -> tuple[np.ndarray, int, int]:
    """Build a Bloom bitmap over `keys[key_col]` distributed-side.

    Returns (bitmap: uint64[m/64], m, k). Only folded bitmap words reach
    the driver (a map-side-combined `groupBy(word).bit_or` shuffle).

    Sizing when `expected_items` is absent uses an HLL sketch
    (`approx_count_distinct`, rsd 15%) instead of the old full
    `keys.count()` (round-5 advisory): the sizing job reads only the key
    column, hashes once per row into a KB-sized sketch, and shuffles one
    sketch per partition — orders of magnitude lighter than the build
    pass, at any ledger size. Distinct count is also the RIGHT sizing
    quantity (duplicate keys set the same bits; the old row count
    oversized on duplicate-heavy ledgers). The estimate is inflated by
    2x rsd as a safety margin — an undersized bitmap only raises fpp
    (more rows into the exact recheck), never correctness.

    (A one-pass build-at-a-cap-then-fold design was tried and reverted:
    hashing into a fixed 2^26-bit space inflated the build shuffle ~20x
    for small ledgers, and ledgers beyond the cap's capacity paid a full
    second build pass anyway — worse at both ends than one cheap sketch
    job plus one exactly-sized build.)
    """
    if expected_items is not None:
        # An explicit non-positive size with a (possibly) non-empty key
        # frame must NOT take the empty-bitmap shortcut below: an
        # all-zero bitmap means "definitively absent", and callers like
        # bloom_anti_join never re-check Bloom-negative rows — real
        # members would silently survive the anti-join (round-6
        # advisory). Only the measured-empty path may conclude that.
        if expected_items <= 0:
            raise ValueError(
                f"build_bloom: expected_items must be positive, got "
                f"{expected_items}; omit it to size from an HLL sketch "
                "of the actual keys"
            )
        n = expected_items
    else:
        if measured_distinct is None:
            # the sizing HLL rides the key frame's materialization as an
            # observed metric (round-15, guide §1 — the same fold
            # incremental_dedup already does): a standalone sizing agg
            # was a SECOND full pass over the keys lineage before the
            # bitmap fold below re-evaluated it. One checkpoint job
            # serves both; the estimate is the identical sketch.
            from pyspark.sql import Observation

            obs = Observation("build_bloom_hll")
            keys = keys.observe(
                obs, F.approx_count_distinct(key_col, rsd=0.15).alias("n")
            ).localCheckpoint(eager=True)
            est = obs.get["n"]
        else:
            # caller already measured the HLL (e.g. as an observed
            # metric riding its own materialization job —
            # incremental_dedup); skip the sizing job, keep the same
            # inflation and the same measured-empty shortcut semantics
            est = measured_distinct
        n = int((est or 0) * 1.3)
        if n <= 0:
            # measured-empty key set: everything is definitively absent
            return np.zeros(1, dtype=np.uint64), 64, 1
    m, k = bloom_params(n, fpp)
    rows = _fold_bitmap_words(keys, key_col, m, k)
    return _rows_to_bitmap(rows, m), m, k


def with_bloom_contains(
    df: DataFrame,
    bitmap: np.ndarray,
    m: int,
    k: int,
    key_col: str,
    out_col: str = "_bloom_maybe",
) -> DataFrame:
    """Add a boolean column: True iff the key MIGHT be in the built set
    (false positives at fpp; no false negatives).

    The bitmap rides a Spark broadcast. The k positions cross Arrow as
    a STRUCT of k int64 fields — the UDF receives a plain numeric
    DataFrame and the bit test is pure ndarray math (gather + shift +
    all-reduce). Passing them as an ARRAY column instead would arrive
    as an object-dtype Series of per-row ndarrays, and the np.stack
    over millions of Python objects costs ~10x the whole probe
    (measured on a 10M-row probe: ~13s array-column vs 1.3s warm with
    the struct form, k=7).
    """
    if out_col in df.columns:
        raise ValueError(
            f"column {out_col!r} already exists on the input; pass a "
            "different out_col"
        )
    sc = df.sparkSession.sparkContext
    b_bitmap = sc.broadcast(bitmap)

    @pandas_udf("boolean")
    def _might_contain(pos: pd.DataFrame) -> pd.Series:
        bm = b_bitmap.value
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        arr = pos.to_numpy(dtype=np.int64)
        words = bm[arr >> 6]
        bits = (words >> (arr & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    return df.withColumn(
        out_col,
        _might_contain(
            F.struct(
                *[
                    c.alias(f"p{i}")
                    for i, c in enumerate(_position_cols(F.col(key_col), k, m))
                ]
            )
        ),
    )


def bloom_anti_join(
    df: DataFrame,
    keys: DataFrame,
    on: str,
    key_col: str | None = None,
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> DataFrame:
    """EXACT left-anti join with a Bloom pre-filter on the probe side.

    Rows whose key fails the Bloom test are definitively absent from
    `keys` and bypass the join entirely; only the Bloom-positive rows
    (true members + ~fpp false positives) enter the exact left-anti
    join. Result is identical to `df.join(keys, on, "left_anti")` —
    the filter only reduces shuffle volume, never changes the answer.
    """
    key_col = key_col or on
    # Hash inputs must agree wherever the JOIN would match: the join
    # coerces both sides to a common type, but the Bloom build/probe
    # hash each side's own string form ('1' vs '1.0' for BIGINT vs
    # DOUBLE) — a silent false NEGATIVE, which the recheck cannot
    # repair (it only sees Bloom-positives). The BITMAP is therefore
    # built over the key side cast to the probe column's type (for
    # join-equal numeric pairs that cast reproduces the probe value, so
    # no false negatives; a value-changing cast of a non-matching key
    # only adds false positives). The RECHECK join keeps the key side's
    # NATIVE type so its semantics are exactly the plain join's.
    # Precondition (enforced): probe/key types equal or both numeric —
    # e.g. a STRING probe vs BIGINT key would join-coerce both to
    # DOUBLE ('1.0' matches 1) while the Bloom hashes the raw strings,
    # a false negative the recheck never sees.
    probe_t = df.schema[on].dataType
    key_t = keys.schema[key_col].dataType
    if probe_t != key_t and not (
        isinstance(probe_t, NumericType) and isinstance(key_t, NumericType)
    ):
        raise ValueError(
            f"bloom_anti_join: probe column {on!r} ({probe_t.simpleString()}) "
            f"and key column {key_col!r} ({key_t.simpleString()}) must have "
            "equal types or both be numeric; cast one side explicitly — a "
            "mixed-type join coercion would produce Bloom false negatives"
        )
    hash_aligned = keys.select(
        F.col(key_col).cast(df.schema[on].dataType).alias(on)
    )
    bitmap, m, k = build_bloom(hash_aligned, on, fpp, expected_items)
    flag = "_bloom_maybe"
    while flag in df.columns:  # never clobber a caller column
        flag = "_" + flag
    flagged = with_bloom_contains(df, bitmap, m, k, on, out_col=flag)
    # pin: BOTH branches below consume the flagged frame, and without a
    # materialization boundary each would re-run the probe scan plus
    # the k-hash Bloom UDF over every row — doubling exactly the
    # probe-side cost the filter exists to reduce. One lazy local
    # checkpoint evaluates the flag once; at extreme probe widths pass
    # a narrow (id, key) projection and join payloads back, the same
    # guidance as joins.running_sum.
    from .pinning import pin

    flagged = pin(flagged)
    definite_out = flagged.filter(~F.col(flag)).drop(flag)
    maybe = flagged.filter(F.col(flag)).drop(flag)
    rechecked = maybe.join(
        keys.select(F.col(key_col).alias(on)).distinct(), on, "left_anti"
    )
    return definite_out.unionByName(rechecked)
