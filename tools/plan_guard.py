"""Plan-shape guard: physical-operator counts for EVERY registry query
(all 112 oracle-checked entries as of round 9, not just the bench
headline) plus the connected-components building blocks, recorded to
PLAN_GUARD.json and asserted by tests/test_plan_guard.py.

Why: wall-clock on a shared box moves up to 3x with neighbor load
(README idle-vs-noisy study), so bench.py alone can't distinguish "host
was busy" from "a plan regressed". Operator counts are load-independent:
an extra Exchange, a join that stopped broadcasting, a window that
appeared in a TakeOrdered path, or Python eval creeping into a JVM
pipeline all show up here deterministically.

Counts are taken from the FORMATTED explain tree (initial plans — AQE
runtime re-planning doesn't add noise) at sf0.001; plan shapes are
scale-independent apart from AQE coalescing, and both record and check
use the same SF so broadcast-threshold effects cancel. Subquery plan
blocks (scalar subqueries, dynamic partition pruning) are parsed and
counted too, not just the main tree.

Honest boundaries of the guard (round-6 review):

- Queries are built with lineage PINNING DISABLED
  (operators.pinning.pinning_disabled), so the recorded shape covers
  the FULL lineage of lazily-pinned queries (dedup_ngram_jaccard,
  prepare_corpus, retrieval_eval, retrieval_eval_ivf) — not just the
  post-checkpoint tail a production explain shows. (bm25_search / hybrid_rrf stopped
  pinning in round 9: rank_small's sorted-array form is single-
  consumer, so their recorded shapes ARE their production shapes.)
- Two DISTINCT reasons a recorded shape can be {} (round-6 advisory —
  don't misread the second kind as broken):
  (a) iterative, plan truncated: operators that EAGERLY checkpoint
      inside a loop (dedup_corpus, dedup_clusters via
      connected_components) return a final frame whose plan is
      inherently an ExistingRDD scan. Their end-to-end shape is
      unguardable; the shapes of their BUILDING BLOCKS (the exact+LSH
      edge union, the undirected edge list, and one pointer-jump round
      over leaf inputs, pins disabled) are recorded instead under the
      `cc_corpus_edges`/`cc_edges`/`cc_jump` pseudo-query keys.
  (b) narrow plan, no guarded nodes present: queries like
      ann_lsh_buckets, chunk_documents, quality_score, token_count are
      pure scan→project→filter pipelines — none of the NODES below
      appear, and {} IS the correct, fully-guarded shape (drift TO any
      guarded node would fail the check).
- "Building" a query is not always execution-free: bloom bitmap
  builds, positional-zip partition counts, and the iterative closure
  run bounded construction-time jobs, so this tool reads test data and
  can fail at runtime, not just at planning.

Usage:
  python tools/plan_guard.py --record   # rewrite PLAN_GUARD.json
  python tools/plan_guard.py            # check, non-zero exit on drift
"""

from __future__ import annotations

import json
import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

REPO = pathlib.Path(__file__).resolve().parent.parent
GUARD_FILE = REPO / "PLAN_GUARD.json"
SF_DIR = "/root/testdata/sf0.001"

# Physical nodes worth guarding. \b-bounded so e.g. BroadcastExchange
# never double-counts as Exchange, SortMergeJoin never as Sort.
NODES = [
    "Exchange",            # shuffle exchanges (broadcast counted separately)
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Window",
    "WindowGroupLimit",
    "Sort",
    "TakeOrderedAndProject",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "ArrowEvalPython",     # vectorized pandas UDF (allowed, bounded)
    "BatchEvalPython",     # row-at-a-time Python UDF (should stay 0)
]


def tree_of(plan: str) -> str:
    """Every tree block of a formatted plan: the main tree plus each
    subquery's tree (formatted explain appends '===== Subqueries ====='
    sections whose plans would otherwise be invisible to the counts).
    Detail sections repeat node names, so collection stops at each
    block's first '(N) ' detail line and resumes at the next header."""
    out, in_tree = [], True
    for ln in plan.splitlines():
        if re.match(r"^\(\d+\) ", ln):
            in_tree = False
            continue
        if ln.startswith("Subquery:") or ln.startswith("== Physical Plan"):
            in_tree = True
            continue
        if in_tree:
            out.append(ln)
    return "\n".join(out)


def count_nodes(plan: str) -> dict[str, int]:
    tree = tree_of(plan)
    out = {}
    for node in NODES:
        n = len(re.findall(rf"\b{node}\b", tree))
        if n:
            out[node] = n
    return out


def pseudo_queries() -> dict:
    """Building blocks of the iterative transitive closure, guarded
    individually because the end-to-end dedup_corpus/dedup_clusters
    plans are truncated to ExistingRDD scans by the per-round eager
    checkpoints (honest-boundary (a) above). Inputs mirror the registry
    queries' own corpus where possible. Fidelity caveat for cc_jump: it
    plans against statted parquet leaves, so its joins broadcast here,
    while the real loop joins stat-less checkpointed LogicalRDD frames
    that never broadcast — the guard catches extra shuffles, windows,
    or cartesians inside the round logic, NOT the loop's production
    join strategy."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import dedup
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import _dup_corpus

    def cc_corpus_edges(spark, sf):
        # the exact+LSH edge union dedup_corpus closes over
        return dedup.dedup_corpus_edges(_dup_corpus(spark, sf))

    def cc_edges(spark, sf):
        # the undirected edge list connected_components materializes
        # once (dedup_clusters input: LSH candidate pairs)
        pairs = dedup.lsh_candidate_pairs(_dup_corpus(spark, sf))
        return dedup.cc_edge_list(pairs.select("doc_a", "doc_b"))

    def cc_jump(spark, sf):
        # one min-label + pointer-jump round. At runtime its inputs are
        # eagerly-checkpointed LEAF frames (ExistingRDD scans), so the
        # production round-plan is the round logic over leaves — mirror
        # that with parquet-scan inputs to isolate the round's own
        # shape (the edge lineage is guarded by cc_edges above; using
        # the full unpinned lineage here would count the LSH pipeline
        # 3x and bury a round regression in edge-pipeline noise).
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
        und = docs.select(
            F.col("doc_id").alias("_src"),
            (F.col("doc_id") + 1).alias("_dst"),
        )
        labels = docs.select(
            "doc_id", F.col("doc_id").alias("component_id")
        )
        return dedup.cc_jump_round(und, labels)

    def cc_first(spark, sf):
        # the seed-folded round 1 (round-15): identity labels live
        # inside the aggregate, so the only joins are the pointer-jump
        # self-join — a labels join or a seed distinct appearing here
        # is a regression back to the separate-seed shape.
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
        und = docs.select(
            F.col("doc_id").alias("_src"),
            (F.col("doc_id") + 1).alias("_dst"),
        )
        return dedup.cc_first_round(docs, und)

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators import joins

    def _hot_salted(spark, sf, hot_hashes):
        # the dedup_exact shape: digest probe + per-key count build.
        # hot_hashes_override injects a synthetic hot set so the guard
        # sees the SALTED plan — under pinning_disabled the default
        # path skips the hot-key read and can only ever show the cold
        # plan (round-12 advisory).
        from pyspark.sql import functions as F

        probe = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", F.md5("text").alias("k")
        )
        build = probe.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        return joins.hot_salted_count_join(
            probe, build, key="k", count_col="n", salt_src="doc_id",
            hot_hashes_override=hot_hashes,
        )

    def hot_salted_inset(spark, sf):
        # small hot set -> IN-literal marking (no extra joins)
        return _hot_salted(spark, sf, [1, 2, 3])

    def hot_salted_bcast(spark, sf):
        # a hot set whose literal exceeds joins.INLINE_MAX_BYTES (every
        # value renders to >= 2 bytes, "0L") -> broadcast hot-hash
        # frame marks each side
        return _hot_salted(
            spark, sf, list(range(joins.INLINE_MAX_BYTES))
        )

    return {
        "cc_corpus_edges": cc_corpus_edges,
        "cc_edges": cc_edges,
        "cc_first": cc_first,
        "cc_jump": cc_jump,
        "hot_salted_inset": hot_salted_inset,
        "hot_salted_bcast": hot_salted_bcast,
    }


def guarded_names() -> list[str]:
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import REGISTRY

    return list(REGISTRY) + sorted(pseudo_queries())


_MODE_CACHE: dict = {}


def shape_of(spark, name: str, mode=None) -> dict[str, int]:
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import REGISTRY

    if mode is None:
        mode = _MODE_CACHE.get(id(spark))
        if mode is None:
            jvm = spark.sparkContext._jvm
            mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            _MODE_CACHE[id(spark)] = mode
    pseudo = pseudo_queries()
    fn = pseudo[name] if name in pseudo else REGISTRY[name][0]
    df = fn(spark, SF_DIR)
    return count_nodes(df._jdf.queryExecution().explainString(mode))


def collect(names: list[str]) -> dict[str, dict[str, int]]:
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import pinning_disabled
    from retrieval_augmented_generation_rag_data_pipeline_spark.session import get_spark

    spark = get_spark("plan_guard")
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    shapes = {}
    with pinning_disabled():
        for name in names:
            shapes[name] = shape_of(spark, name, mode)
    return shapes


def main() -> int:
    record = "--record" in sys.argv
    shapes = collect(guarded_names())
    if record:
        GUARD_FILE.write_text(json.dumps(shapes, indent=2, sort_keys=True) + "\n")
        print(f"recorded {len(shapes)} plan shapes -> {GUARD_FILE}")
        return 0
    want = json.loads(GUARD_FILE.read_text())
    drift = {
        n: {"want": want.get(n), "got": shapes.get(n)}
        for n in set(want) | set(shapes)
        if want.get(n) != shapes.get(n)
    }
    if drift:
        print("PLAN DRIFT:\n" + json.dumps(drift, indent=2, sort_keys=True))
        return 1
    print(f"all {len(shapes)} registry plan shapes match PLAN_GUARD.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
