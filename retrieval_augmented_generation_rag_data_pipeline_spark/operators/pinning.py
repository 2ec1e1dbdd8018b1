"""Lineage pinning (lazy localCheckpoint) with a plan-inspection switch.

Several operators pin an intermediate frame because more than one
consumer (a self-join side, a multi-action edge build) would otherwise
replay its full upstream lineage — see ngram_jaccard_pairs,
prepare_corpus, retrieval_eval. Pinning is a pure performance decision;
it never changes results. (rank_small pinned through round 8; its
round-9 sorted-array form consumes its input once and needs no pin.)

The switch exists for plan tooling: a checkpoint truncates the visible
plan to an ExistingRDD scan, so tools/plan_guard.py and
tools/make_explain.py would only ever see the post-pin tail of a pinned
query (and a regression upstream of the pin would be invisible to the
recorded operator counts). Those tools disable pinning while they
explain, recovering the full lineage. Note that `localCheckpoint(
eager=False)` is NOT free at build time either — under AQE it submits
the shuffle-stage jobs of the checkpointed plan when called — so
disabling pins also keeps plan inspection from executing those stages.

The switch also picks a tier at the one literal-or-broadcast seam,
``joins.small_side``: with pins off, a DataFrame-backed small side
(decontamination's benchmark sketch keys) is never measured or
collected and takes the broadcast join tier, so the tooling sees that
tier's full plan. Both tiers drop, mark and look up row for row, so
this too never changes results (tests/test_small_side.py).
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

# ContextVar, not a module global: the disable flag is scoped to the
# current thread/async context, so a pinning_disabled() block in plan
# tooling can never silently strip the pins off DataFrames being built
# concurrently in another thread (round-6 advisory).
_DISABLED: ContextVar[bool] = ContextVar("pinning_disabled", default=False)


def pin(df: DataFrame) -> DataFrame:
    """Lazily checkpoint `df` (materialize once, reuse across consumers)
    unless pinning is disabled for plan inspection."""
    if _DISABLED.get():
        return df
    return df.localCheckpoint(eager=False)


def construct_all(*thunks):
    """Run several INDEPENDENT frame-builders concurrently and return
    their frames UNPINNED (guide §2.6) — the ONE pool implementation
    ``build_all`` and ``pin_all`` wrap — for operators whose
    construction fires Spark jobs but whose results must stay lazy (an
    edge list that a downstream lazy checkpoint will materialize
    exactly once, e.g.).

    dedup_corpus_edges measured: the exact side's construction runs
    the digest-aggregate checkpoint + bounded hot-key read (3 JVM
    jobs, ~0.5-0.8 s warm) while the LSH side's construction is pure
    driver-side expression building (~0.6 s, no jobs) — py4j releases
    the GIL during JVM calls, so on two threads the plan building
    proceeds while the probe jobs run.

    Two kinds of caller context are propagated into each worker
    thread (round 16, ADVICE):

    - contextvars — ``pinning_disabled()`` still reaches each builder
      (hot_salted_count_join's plan-inspection path consults it); in
      that case all pins no-op, construction fires no jobs, and this
      degenerates to calling the thunks on the pool and collecting
      their lazy frames.
    - SparkContext LOCAL PROPERTIES (job group/description, scheduler
      pool, cancellation flags) — the same clone-and-set mechanism
      ``pyspark.InheritableThread`` uses. Under pinned-thread mode a
      plain pool thread starts with EMPTY local properties, so jobs
      fired from the pool would escape jobGroup cancellation and lose
      their UI/event-log ``spark.job.description`` attribution
      (observed: prepare_corpus's overlapped pin jobs logged with no
      description). Each worker gets its own clone so a property set
      later by one branch can never leak into a sibling.
    """
    import contextvars
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    if len(thunks) <= 1:
        return [t() for t in thunks]
    ctx = contextvars.copy_context()
    sc = SparkContext._active_spark_context
    props = sc._jsc.sc().getLocalProperties() if sc is not None else None

    def _run(t):
        if props is not None:
            sc._jsc.sc().setLocalProperties(props.clone())
        return t()

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(ctx.copy().run, _run, t) for t in thunks
        ]
        return [f.result() for f in futures]


def build_all(*thunks):
    """Construct-and-pin several INDEPENDENT frames concurrently
    (guide §2.6) — ``construct_all`` plus the pin, for sides whose
    CONSTRUCTION already fires Spark jobs.

    ``pin_all`` overlaps only the final checkpoint materializations;
    when an operator pins internally, those pins submit their jobs at
    the operator CALL (lazy localCheckpoint under AQE — see pin_all),
    i.e. while the query function is still being composed, serially.
    hybrid_rrf measured: bm25_search() construction runs the whole
    tokenize/proxy pipeline before the dense side's scan can start —
    the two independent corpus passes back-to-back where max() would
    do. Passing zero-arg builders moves construction itself onto the
    pool, so every job either side fires overlaps the other side's."""
    return construct_all(*(lambda t=t: pin(t()) for t in thunks))


def pin_all(*dfs: DataFrame) -> list[DataFrame]:
    """Pin several INDEPENDENT frames concurrently (guide §2.6).

    A lazy localCheckpoint is not free at call time — under AQE it
    submits the checkpointed plan's shuffle-stage jobs synchronously —
    so two sibling ``pin()`` calls serialize their materializations
    (measured: the eval queries' exact + ANN pins run back-to-back,
    0.4s + 1.5s warm, where max() would do). Submit them from driver
    threads (``construct_all`` — contextvars and Spark local
    properties propagate, see there) so the jobs overlap; plans and
    results are unchanged."""
    return construct_all(*(lambda d=d: pin(d) for d in dfs))


def pinning_is_disabled() -> bool:
    """True inside a ``pinning_disabled()`` block — i.e. a
    plan-inspection context. Operators whose CONSTRUCTION runs Spark
    jobs (``joins.small_side``'s measured pin, hot_salted_count_join's
    hot-key read) consult this to skip the data-dependent step and
    build a plan without it, keeping the 'plan inspection must not
    execute stages' guarantee above."""
    return _DISABLED.get()


@contextmanager
def pinning_disabled():
    """Context manager: build DataFrames with pins as no-ops so their
    FULL lineage is visible to explain/plan tooling. Never use around
    code whose results you execute twice — the pins exist because
    re-execution is expensive. Thread-scoped: only this thread's (or
    async context's) pins are disabled."""
    token = _DISABLED.set(True)
    try:
        yield
    finally:
        _DISABLED.reset(token)
