"""Load-independent perf signal: the physical plan shape of every
registry query (all 105 oracle-checked entries as of round 7) plus the
connected-components building blocks must match the recorded
PLAN_GUARD.json.

Wall-clock on a shared box moves up to 3x with neighbor load, so
bench.py alone can't distinguish host noise from a plan regression. An
extra Exchange, a broadcast join degrading to sort-merge, a window
appearing in a TakeOrdered path, or row-at-a-time Python creeping in
all fail here deterministically. Plans are built with lineage pinning
disabled so lazily-pinned queries expose their full lineage; building
them is still not execution-free (bloom bitmap builds, positional-zip
counts, and the iterative closure run bounded construction-time jobs) —
see tools/plan_guard.py for the guard's honest boundaries, including
the two kinds of legitimately-{} rows (iterative plan truncation vs
narrow plans containing no guarded nodes).

On intentional plan changes: `python tools/plan_guard.py --record`.
"""

from __future__ import annotations

import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def test_registry_plan_shapes_match_recorded(spark):
    from bench import HEADLINE
    from tools.plan_guard import GUARD_FILE, guarded_names, shape_of

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import pinning_disabled

    want = json.loads(GUARD_FILE.read_text())
    names = guarded_names()
    assert set(want) == set(names), (
        "PLAN_GUARD.json is stale vs the registry + cc pseudo-queries — "
        "rerun tools/plan_guard.py --record"
    )
    # every bench headline query is a registry entry, so the full-registry
    # guard subsumes the old headline-only check
    assert set(HEADLINE) <= set(names)
    drift = {}
    with pinning_disabled():
        for name in names:
            got = shape_of(spark, name)
            if got != want[name]:
                drift[name] = {"want": want[name], "got": got}
    assert not drift, json.dumps(drift, indent=2, sort_keys=True)


def test_pinning_disabled_is_thread_scoped(spark):
    """Round-6 advisory: the disable flag is a ContextVar, so a
    pinning_disabled() block in plan tooling must NOT strip pins off
    DataFrames built concurrently in another thread."""
    import threading

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        pin,
        pinning_disabled,
    )

    df = spark.range(3)
    seen = {}

    def other_thread():
        seen["pinned"] = pin(df) is not df

    with pinning_disabled():
        assert pin(df) is df  # disabled here
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
    assert seen["pinned"], "pin() was a no-op in a thread that never disabled it"
    assert pin(df) is not df  # re-enabled after the block


def test_build_all_pins_and_respects_disable(spark):
    """build_all (round-15 §2.6) constructs-and-pins thunks on a pool:
    results are the thunks' frames (same rows), pinned — and inside
    pinning_disabled() the pins no-op so construction fires no jobs
    and plan tooling sees the full lineage."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        build_all,
        pinning_disabled,
    )

    a, b = build_all(
        lambda: spark.range(3), lambda: spark.range(5, 8)
    )
    assert sorted(r.id for r in a.collect()) == [0, 1, 2]
    assert sorted(r.id for r in b.collect()) == [5, 6, 7]
    # pinned: plan truncated to a checkpoint (LogicalRDD) scan
    assert "LogicalRDD" in a._jdf.queryExecution().analyzed().toString()

    with pinning_disabled():
        (c,) = build_all(lambda: spark.range(2))
        assert "LogicalRDD" not in c._jdf.queryExecution().analyzed().toString()
        assert sorted(r.id for r in c.collect()) == [0, 1]


def test_construct_all_lazy_disable_and_local_props(spark):
    """construct_all (the pool core, round 16): returns the thunks'
    frames UNPINNED (lazy — no LogicalRDD truncation), propagates the
    pinning_disabled contextvar into builder threads, and clones the
    caller's SparkContext local properties (job description etc.) into
    each worker so pool-fired jobs keep jobGroup cancellation and UI
    attribution."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        construct_all,
        pinning_disabled,
        pinning_is_disabled,
    )

    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "construct_all-test")
    try:
        seen = {}

        def side_a():
            seen["disabled_a"] = pinning_is_disabled()
            seen["desc_a"] = sc.getLocalProperty("spark.job.description")
            return spark.range(3)

        def side_b():
            seen["desc_b"] = sc.getLocalProperty("spark.job.description")
            return spark.range(5, 8)

        a, b = construct_all(side_a, side_b)
        assert sorted(r.id for r in a.collect()) == [0, 1, 2]
        assert sorted(r.id for r in b.collect()) == [5, 6, 7]
        # unpinned: full lineage visible, no checkpoint scan
        assert "LogicalRDD" not in a._jdf.queryExecution().analyzed().toString()
        assert seen["disabled_a"] is False
        assert seen["desc_a"] == "construct_all-test"
        assert seen["desc_b"] == "construct_all-test"

        with pinning_disabled():
            (c,) = construct_all(lambda: spark.range(2))
            assert sorted(r.id for r in c.collect()) == [0, 1]
            flags = construct_all(
                lambda: pinning_is_disabled(), lambda: pinning_is_disabled()
            )
            assert flags == [True, True]
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_positional_zip_join_jobs_run_in_callers_job_group(spark):
    """positional_zip_join builds its two global indexes on
    construct_all, so every construction job (checkpoints and stats
    collects) carries the caller's job group: a group cancellation or
    job description reaches them all."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        positional_zip_join,
    )

    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    left = spark.range(40).selectExpr("id AS a", "id AS _ord")
    right = spark.range(40).selectExpr("id * 2 AS b", "id AS _ord")
    sc.setJobGroup("zip-join-group", "positional_zip_join construction")
    try:
        first = dag.nextJobId()
        out = positional_zip_join(left, right)
        last = dag.nextJobId()
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    fired = set(range(first, last))
    assert fired, "global_index runs construction jobs"
    grouped = set(sc.statusTracker().getJobIdsForGroup("zip-join-group"))
    assert fired <= grouped, (sorted(fired), sorted(grouped))
    assert sorted((r.a, r.b) for r in out.collect()) == [
        (i, 2 * i) for i in range(40)
    ]


def test_no_row_at_a_time_python_in_headline_plans():
    """BatchEvalPython (row-at-a-time UDF) must never appear; the only
    Python in any headline plan is Arrow-vectorized."""
    from tools.plan_guard import GUARD_FILE

    want = json.loads(GUARD_FILE.read_text())
    offenders = {n: s for n, s in want.items() if s.get("BatchEvalPython")}
    assert not offenders
    cartesian = {n: s for n, s in want.items() if s.get("CartesianProduct")}
    assert not cartesian
