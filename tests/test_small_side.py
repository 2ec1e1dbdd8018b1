"""Agreement of the two ``joins.small_side`` tiers at every site.

Five operators decide "inline the small side as a SQL literal, or join
it as a broadcast frame" through the one seam and its one bound,
``joins.INLINE_MAX_BYTES``. Each case below runs its site with the tier
forced three ways — the bound huge (inline), the bound 0 (join tier) and
``pinning_disabled()`` at the default bound — and asserts the same rows
as a plain formulation, plus which tier ran, read off the executed plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators import (
    joins,
    text,
    web,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
    pinning_disabled,
)

BENCH = "the quick brown fox jumps over the lazy dog near the river bank today"
CLEAN = "completely different words appear in this clean document for testing"


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df: DataFrame) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _decon_docs(spark):
    # id 1 and id NULL each twice: one contaminated row, one clean twin
    return spark.createDataFrame(
        [
            (1, BENCH + " extra words"),
            (1, CLEAN),
            (None, "prefix " + BENCH),
            (None, CLEAN + " again"),
            (2, CLEAN + " two"),
        ],
        "doc_id long, text string",
    )


_DECON_KEPT = [(1, CLEAN), (2, CLEAN + " two"), (None, CLEAN + " again")]


def _decon(fn, bench_rows):
    def run(spark):
        bench = spark.createDataFrame([(t,) for t in bench_rows], "text string")
        return fn(_decon_docs(spark), bench)

    return run


def _decon_join_ran(plan: str) -> bool:
    return "LeftSemi" in plan


_URLS = [
    "http://www.bbc.co.uk/x",
    "http://www.bbc.co.uk/x",
    "https://a.b.example.com",
    "http://foo.o'k.jp/",
    "http://x.a\\b.jp",
    "http://o'k.jp",
    None,
    "http://bar.com.",
]
_SUFFIXES = ["co.uk", "o'k.jp", "a\\b.jp", "b.example.com", "example.com"]
_HOSTS = [
    ("www.bbc.co.uk", "bbc.co.uk"),
    ("www.bbc.co.uk", "bbc.co.uk"),
    ("a.b.example.com", "a.b.example.com"),
    ("foo.o'k.jp", "foo.o'k.jp"),
    ("x.a\\b.jp", "x.a\\b.jp"),
    ("o'k.jp", "o'k.jp"),
    (None, None),
    ("bar.com", "bar.com"),
]


def _host(spark):
    urls = spark.createDataFrame([(u,) for u in _URLS], "url string")
    return web.extract_host(urls, suffixes=_SUFFIXES).select("host", "domain")


def _hot_inputs(spark):
    rows = (
        [(i, "hot") for i in range(60)]
        + [(100 + i, f"cold{i}") for i in range(5)]
        + [(200, None), (201, None), (202, "cold0")]
    )
    probe = spark.createDataFrame(rows, "id long, k string")
    build = probe.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.min("id").alias("lead")
    )
    return probe, build


def _hot(threshold):
    def run(spark):
        probe, build = _hot_inputs(spark)
        return joins.hot_salted_count_join(
            probe, build, key="k", count_col="n", salt_src="id",
            hot_threshold=threshold, n_salts=4, null_safe=True,
        ).select("id", "k", "n", "lead")

    return run


def _hot_plain(spark):
    probe, build = _hot_inputs(spark)
    return (
        probe.alias("p")
        .join(build.alias("b"), F.col("p.k").eqNullSafe(F.col("b.k")))
        .select("id", "p.k", "n", "lead")
    )


def _offsets(n_rows):
    def run(spark):
        ids = [(i,) for i in range(n_rows)] + ([(None,)] if n_rows else [])
        df = spark.createDataFrame(ids, "doc_id long")
        return joins.global_index(df, ["doc_id"], num_parts=4)

    return run


def _offsets_plain(n_rows):
    # NULL sorts first under the range exchange's ascending order
    return [(None, 1)] + [(i, i + 2) for i in range(n_rows)] if n_rows else []


def _has_bhj(plan: str) -> bool:
    return "BroadcastHashJoin" in plan


# name -> (the site run under the current tier, expected rows (a list,
# a function returning the plain DataFrame, or None for "docs
# unchanged"), join-tier detector, tier under pinning_disabled(), small
# side non-empty)
CASES = {
    "decontaminate_dup_and_null_ids": (
        _decon(text.decontaminate, [BENCH]), _DECON_KEPT,
        _decon_join_ran, "join", True,
    ),
    "decontaminate_empty_bench": (
        _decon(text.decontaminate, []), None, _decon_join_ran, "join", False,
    ),
    "decontaminate_fuzzy_dup_and_null_ids": (
        _decon(text.decontaminate_fuzzy, [BENCH]), _DECON_KEPT,
        _decon_join_ran, "join", True,
    ),
    "decontaminate_fuzzy_no_keys": (
        # shorter than the shingle width: no band keys, an empty side
        _decon(text.decontaminate_fuzzy, ["two words"]), None,
        _decon_join_ran, "join", False,
    ),
    "extract_host_quotes_backslashes_nulls": (
        _host, _HOSTS, _has_bhj, "inline", True,
    ),
    "hot_salted_null_and_duplicate_keys": (
        _hot(50), _hot_plain, lambda p: "LeftOuter" in p, "inline", True,
    ),
    "hot_salted_empty_hot_set": (
        _hot(10**6), _hot_plain, lambda p: "LeftOuter" in p, "inline", False,
    ),
    "range_parted_offsets_null_key": (
        _offsets(40), _offsets_plain(40), _has_bhj, "inline", True,
    ),
    "range_parted_offsets_empty": (
        _offsets(0), _offsets_plain(0), _has_bhj, "inline", False,
    ),
}


@pytest.mark.parametrize("tier", ["inline", "join", "pins_off"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_small_side_tiers_agree(spark, monkeypatch, case, tier):
    build, want, join_ran, pins_off_tier, non_empty = CASES[case]
    if tier == "pins_off":
        with pinning_disabled():
            df = build(spark)
        expect = pins_off_tier
    else:
        monkeypatch.setattr(
            joins, "INLINE_MAX_BYTES", 1 << 30 if tier == "inline" else 0
        )
        df = build(spark)
        expect = tier
        if not non_empty:
            expect = "inline"  # an empty side renders to nothing
    if want is None:
        want = _rows(_decon_docs(spark))
    elif callable(want):
        want = _rows(want(spark))
    assert _rows(df) == sorted(want, key=repr)
    assert join_ran(_plan(df)) == (expect == "join"), _plan(df)


def test_decontaminate_oversized_bench_row_stays_on_executors(
    spark, monkeypatch
):
    """A benchmark row whose gram array alone renders past the bound
    must pick the join tier from the executor-side byte count, without
    any row being collected to the driver."""
    words = " ".join(f"w{i}" for i in range(joins.INLINE_MAX_BYTES // 8 + 8))
    docs = spark.createDataFrame(
        [(1, "w5 w6 w7 w8 w9 w10 w11 w12 w13"), (2, CLEAN)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(words,)], "text string")

    def no_collect(self):
        raise AssertionError("a small side was collected to the driver")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect", no_collect)
        out = text.decontaminate(docs, bench)
    assert _decon_join_ran(_plan(out))
    assert _rows(out) == [(2, CLEAN)]
