"""Regenerate EXPLAIN.md — formatted physical plans of flagship queries.

Usage: python tools/make_explain.py
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from tools.plan_guard import tree_of

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import pinning_disabled
from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import REGISTRY
from retrieval_augmented_generation_rag_data_pipeline_spark.session import get_spark

PICKS = {
    "agg_tpch_q6": "scan efficiency: every predicate pushed, 4-column read schema",
    "top_revenue_orders": "3-way join: filtered dimension broadcast, partial agg, top-N",
    "join_asof": (
        "as-of alignment: reverse-growing window fills over a unioned, "
        "user-partitioned timeline — no per-row probe join; the right "
        "side unions quotes into the tick ordering so one sort serves "
        "the fill (the O(n^2)-frame pathology is documented and avoided)"
    ),
    "dedup_lsh_pairs": (
        "MinHash LSH: hash pipeline staged once; three bounded shuffles "
        "(input spread, per-doc signature agg, band-bucket grouping) — "
        "pair generation only inside capped buckets, never all-pairs"
    ),
    "ann_ivf_topk": "IVF ANN: cell equi-join replaces the cross join",
    "dedup_embedding_cosine": "blocked near-dup: multi-table LSH bucket join, no all-pairs",
    "dedup_embedding_capped": (
        "near-dup with the max_bucket_size skew cap: a map-side-combined "
        "bucket count + equi-join drops degenerate (table, bucket) groups "
        "BEFORE the pair self-join, so one hot template bucket can't emit "
        "a quadratic candidate set (the 100x probe's replica-quadratic "
        "9.9M pairs collapse to 0)"
    ),
    "join_positional": "distributed positional zip: no single-partition stage",
    "pack_sequences": (
        "sequence-packing coordinates: the weighted global-index shape "
        "— a naive sum() OVER (ORDER BY) would funnel the corpus "
        "through a single task. The Exchange shown is a HASH exchange "
        "on _part (EnsureRequirements re-clusters the checkpointed "
        "scan for the window); the range exchange ran inside the "
        "checkpoint job and is invisible here — two full-data "
        "exchanges total, both of the narrow (id, n_tokens) "
        "coordinates frame, never the corpus (see "
        "joins.running_sum)"
    ),
    "pack_assembly": (
        "loader-side sequence assembly: pack_pieces is a narrow explode "
        "over the packing coordinates (zero shuffle of its own); the "
        "groupBy(seq_id) collect_list is the ONE shuffle the "
        "random-access loader pays, keyed on the sequence id so each "
        "reducer owns whole sequences — assembly strings are "
        "sort_array-ordered, so no re-sort downstream"
    ),
    "mix_report": (
        "mixture bookkeeping in ONE corpus scan: token count and the "
        "hash-derived split label are narrow projections on the same "
        "pass, then a map-side-combined agg shuffles only the "
        "sources x splits cells — one Exchange, no join (the oracle's "
        "SQL formulation joins two passes; Catalyst is handed the "
        "fused plan directly)"
    ),
    "dedup_eval": (
        "LSH candidate quality verified, not trusted: every banded-LSH "
        "candidate pair re-scored with exact shingle Jaccard — two hash "
        "equi-joins against the pinned frame of each doc's distinct "
        "60-bit shingle hashes (the set MinHash sketches), the intersection "
        "let-bound so it evaluates once per pair (jaccard + is_dup "
        "reference it 4x unbound); candidates stay bucketed, never "
        "all-pairs"
    ),
    "retrieval_eval": (
        "ANN-vs-exact quality metrics as a query: both top-k frames are "
        "pinned (kNN / LSH lineages run once) and every metric join's "
        "right side is an O(queries x k) broadcast — recall/MRR cost is "
        "the two retrieval passes, the measurement itself is free"
    ),
    "tfidf_top_terms": (
        "lexical retrieval postings lineage: one staged tokenize (dl + "
        "explode share the array), tf hash-agg with map-side combine, "
        "document frequency from its OWN light lineage (per-doc "
        "array_distinct -> partial-agg groupBy(term), joined back — "
        "round 10: the old term-partitioned window welded a stopword's "
        "postings onto one task and capped everything downstream at "
        "distinct-term parallelism), broadcast 1-row corpus stats, "
        "WindowGroupLimit per-doc top-k. bm25_search shares this shape "
        "with a query-term filter BEFORE the tf shuffle and a "
        "broadcast <= |query_terms|-row df join; its <= 20 survivors "
        "are ranked by rank_small's single-consumer sorted-array form "
        "(one k-row Exchange, no self-join, no pin — round 9)"
    ),
    "sample_exact_k": (
        "exact-k deterministic sample: TakeOrderedAndProject (per-"
        "partition partial top-k), never an unpartitioned row_number "
        "window over the corpus; the optional with_rank path ranks the "
        "k survivors via the window-free sorted-array rank (rank_small, "
        "single consumer — no pin, no self-join)"
    ),
    "bloom_anti_join": (
        "Bloom-prefiltered exact anti-join: bitmap built by one "
        "bit_or agg on the key side, Arrow-vectorized might-contain "
        "probe, left-anti recheck only on Bloom-positive rows"
    ),
    "dedup_chunks": (
        "sub-document dedup: narrow chunk explode, digest-keyed partial "
        "aggregation (groupBy.min(struct)) picks each digest's winner "
        "with map-side combine — deliberately NOT a digest window, which "
        "hot boilerplate chunks would skew onto one task — then an AQE-"
        "splittable equi-join flags winners back onto the chunk stream "
        "and one per-doc regroup rebuilds documents"
    ),
    "prepare_corpus": (
        "end-to-end corpus prep (shown with pinning disabled, so the "
        "Gopher quality lineage is visible — at runtime the two-column "
        "verdict is pinned once because dedup's edge build replays its "
        "input per action): quality + split stay narrow; the "
        "pointer-jumping dedup closure appears as an ExistingRDD scan "
        "(it checkpoints eagerly per round by design); one doc_id join "
        "gives every input row an auditable keep/drop verdict + split"
    ),
    "sample_weighted_k": (
        "weighted sample w/o replacement: Efraimidis–Spirakis keys from "
        "a hash-derived uniform (no RNG state), TakeOrderedAndProject "
        "top-k — per-partition partial top-k, never a global sort or "
        "unpartitioned window"
    ),
    "dedup_spans": (
        "substring-level exact dedup (Lee et al. 2021 family), round-10 "
        "de-skewed form: distinct (h, doc_id) pairs -> partial-agg "
        "count per 120-bit span hash -> postings equi-join against the "
        "duplicated-hash set (AQE skew-split eligible — a universal "
        "boilerplate hash can no longer weld one window task, see "
        "span_skew in tools/scale_probe.py); then per-doc lag + "
        "running-sum windows merge overlapping spans into maximal "
        "regions, whose groupBy reuses the doc_id partitioning — "
        "never all-pairs"
    ),
    "hybrid_rrf": (
        "hybrid retrieval fusion: BM25 + dense kNN top-k frames union "
        "into one k-sized RRF aggregation; every ranking (and the "
        "fused frame) is consumed exactly once since rank_small's "
        "sorted-array form, so the full plan is 7 Exchanges with no "
        "pins — down from 24 recorded Exchanges when each rank site "
        "was a lineage-doubling self-join (round 9)"
    ),
    "dedup_spans_strip_raw": (
        "original-byte substring-dedup apply (round 11): the span "
        "index is the dedup_spans lineage; per-doc region lists "
        "aggregate FIRST, so the corpus join and the token/gap array "
        "projection above it touch only region-bearing docs; region "
        "char offsets come from prefix-length sums over the arrays "
        "evaluated only at region boundaries, and kept text is rebuilt "
        "by ONE row-local sequential aggregate over the sorted cut "
        "list — no per-token explode, no per-cut lag window, document "
        "text never rides a shuffle; unchanged docs pass through the "
        "left join byte-identical"
    ),
    "dedup_semantic": (
        "SemDeDup (round 11): frozen trained k-means cell assignment "
        "(literal centroid dots, once per vector, pinned together with "
        "the L2 norm — an inline per-pair cosine re-aggregated both "
        "norms 250k times), then a cell-keyed self-join whose ONLY "
        "join condition is (cell, id<) — the cosine threshold lives "
        "inside when()-guarded aggregates because a pushed filter "
        "would drag the CodegenFallback HOF dot into the join "
        "condition (measured 2.5s vs 0.15s for the same pair count); "
        "the per-cell pair join is the SemDeDup cost model — cell "
        "count scales with the corpus, max_cell_size caps degenerate "
        "cells"
    ),
    "lm_perplexity": (
        "CCNet-style frozen-LM scoring (round 11): explode -> "
        "BroadcastHashJoin against the vocab-sized log-prob table "
        "(literals frozen at training time; OOV misses coalesce to "
        "the pooled OOV log-prob) -> ONE map-side-combined per-doc "
        "aggregation — two Exchanges total, nothing keyed on a "
        "content-derived hot key"
    ),
    "quality_classifier": (
        "trained-classifier quality scoring: explode -> BroadcastHashJoin "
        "against the metadata-sized frozen weight table -> one partial-"
        "aggregating per-doc logit sum -> doc_id SortMergeJoin back onto "
        "the full spine (zero-token docs score the bare intercept); the "
        "only shuffles are the doc_id agg + spine join, never a "
        "per-token map literal"
    ),
    "select_budget_classifier": (
        "classifier-ranked token budget: the FineWeb-Edu cut — logit "
        "descending into the SAME pinned range-exchange running-total "
        "shape as select_token_budget (one Window over the range "
        "partitioning, per-partition offsets broadcast back; no global "
        "window, no single-task sort)"
    ),
    "dedup_corpus_best": (
        "quality-aware survivor selection: the closure's component "
        "labels left-join the broadcast quality frame (scores collapsed "
        "to max-per-doc first, so a duplicated ledger row can't "
        "multiply members — round-14 guard), then ONE window "
        "partitioned by component_id (cluster-sized partitions — the "
        "topn_per_group shape) ranks score desc, id asc; keep = rn 1"
    ),
    "select_budget_grouped": (
        "per-group token budgets (round 12), shown from the pinned "
        "range exchange down (the lazy checkpoint that fixes "
        "partition ids truncates the frozen-LM scoring subplan to an "
        "ExistingRDD scan — same property as pack_sequences): "
        "per-(partition, group) offsets ride back as one local "
        "relation in a BroadcastHashJoin (metadata-sized because groups are "
        "contiguous under the range exchange), ONE Window partitioned "
        "by (_part, lang), the per-group budget a literal map — no "
        "global window, no per-group single task, no collect of data "
        "rows"
    ),
    "ccnet_buckets": (
        "CCNet per-language xent terciles (round 13; shown pins "
        "disabled — at runtime the scored frame is pinned once for "
        "its two consumers): explode -> broadcast vocab join -> one "
        "per-doc sum, a languages-sized percentile aggregate, "
        "thresholds broadcast back as a hash join, bucket = scan-side "
        "CASE; round 14 adds approx-sketch and frozen-threshold modes "
        "for the per-language exact-percentile buffer (the documented "
        "100-TB caveat — see ccnet_buckets in PROBES_r14)"
    ),
    "c4_line_filter": (
        "C4 line-level cleaning: a single narrow Project — the "
        "split/trim/per-rule array pipeline is one let-bound "
        "expression, so the plan is scan -> project with NO shuffle, "
        "NO UDF, and the audit counts share one evaluation of the "
        "lines array"
    ),
    "url_filter": (
        "URL blocklist filtering: host/domain extraction narrow, then "
        "exactly two BroadcastHashJoin LeftAnti against the distinct "
        "blocklist (exact host + whole registered domain as separate "
        "equi joins — an OR predicate would degrade to a "
        "BroadcastNestedLoopJoin); the corpus never shuffles"
    ),
    "domain_caps": (
        "per-domain cap: ONE window partitioned by domain, rewritten "
        "by Catalyst to WindowGroupLimit — partial per-partition top-K "
        "runs BEFORE the exchange, so at most K rows per domain per "
        "input partition shuffle; parallelism scales with domain "
        "cardinality"
    ),
    "mix_temperature": (
        "temperature mixture weights: one map-side-combined aggregate "
        "to |sources| rows (pinned — three consumers), then one-row "
        "total frames ride back as broadcast nest-loop joins over "
        "metadata-sized frames; the corpus is scanned once and "
        "nothing per-doc shuffles"
    ),
    "url_dedup": (
        "URL-level exact dedup: canonicalization is narrow let-bound "
        "string work; survivor selection is the dedup_exact shape — "
        "map-side-combined groupBy(url_norm).min(id) + one equi "
        "join-back, never a per-URL window, so a hot canonical URL "
        "cannot weld one task"
    ),
    "html_clean": (
        "HTML markup stripping: one narrow per-row regex/replace chain "
        "— scan -> project, no shuffle, no UDF; the audit counts and "
        "the cleaning pipeline share the scan"
    ),
    "ann_ivfpq_rerank": (
        "IVFPQ shortlist + exact rerank (IndexRefineFlat): the ADC "
        "path's cell-join + WindowGroupLimit produces a k*refine "
        "shortlist, true vectors surface through ONE BroadcastHashJoin "
        "of that metadata-sized shortlist against the corpus (the "
        "corpus itself never shuffles), exact dots rerank via the "
        "shared per-query WindowGroupLimit tail"
    ),
    "join_tpch_q5": (
        "TPC-H Q5, the six-table star join: the region->nation dim "
        "chain collapses to a <=25-row broadcast applied twice — "
        "supplier pruned inline, customer pruned through a broadcast "
        "SEMI join (sound because c_nationkey = s_nationkey) — before "
        "any fact shuffle; the compound (l_suppkey, c_nationkey) "
        "condition stays a 2-column equi-join (never a nested loop), "
        "and the final agg shuffles only |nations| cells"
    ),
    "split_by_host": (
        "leakage-safe holdout: the split label is a pure hash of the "
        "GROUP key (URL host), so group-consistency costs NO shuffle "
        "and no group materialization — host extraction + md5 bucket "
        "are narrow projections on the corpus scan"
    ),
    "window_time_range": (
        "trailing time-RANGE frame: one user-partitioned window with a "
        "bounded RANGE frame evaluated by a per-partition two-pointer "
        "pass — no self-join, no extra Exchange beyond the partitionBy; "
        "the frame key is epoch seconds so engines agree bit-exactly"
    ),
    "url_filter_psl": (
        "public-suffix-list registered domains: one broadcast equi "
        "LEFT join per suffix depth (longest listed suffix wins) plus "
        "the two broadcast anti-joins — four BroadcastHashJoins total, "
        "zero nested loops, and the corpus side never shuffles; the "
        "suffix table is metadata-sized at any PSL size"
    ),
    "lang_id_trained": (
        "trained langid: explode char trigrams -> ONE broadcast join "
        "against the WIDE per-language weight table (the language axis "
        "rides as columns, so the corpus explodes and aggregates "
        "once) -> map-side-combined per-doc sums -> spine left join; "
        "the only corpus shuffle is the doc_id aggregation"
    ),
    "dsir_select": (
        "DSIR selection: the frozen target/raw LMs pre-subtract into "
        "one broadcast diff table (one join does the work of two), "
        "and the log-space Gumbel-top-k lands in "
        "TakeOrderedAndProject — per-partition partial top-k, no "
        "global sort materialization, no exp() anywhere"
    ),
    "dedup_image_phash": (
        "perceptual-hash near-dup: band explode is narrow (the hash "
        "rides inside the bucket struct, so the exact bit_count rerank "
        "never joins back); two bounded shuffles — band-bucket "
        "grouping and pair dedup — and pair generation only inside "
        "capped buckets, exact vs all-pairs by pigeonhole"
    ),
    "decontaminate_fuzzy": (
        "fuzzy decontamination: the shared minhash band chain feeds "
        "ONE broadcast semi join on band:key strings against the "
        "test-set-sized benchmark keys — no pair expansion, no "
        "self-join; hit rows leave by a null-safe anti join on the "
        "whole row, so a duplicated or NULL id never decides the drop"
    ),
    "token_count_subword": (
        "frozen-BPE counts: greedy segmentation is ONE fold expression "
        "over DISTINCT words (a vocabulary-sized dimension — Zipf mass "
        "reuses it, so segmentation cost never scales with corpus "
        "tokens); the pinned word list feeds the dimension and the "
        "join-back without replaying the scan"
    ),
}

HEADER = """# EXPLAIN — physical plans of the flagship queries

Generated by `tools/make_explain.py` (sf0.001 inputs; plans are
scale-independent apart from AQE's runtime coalescing). What to look
for in each: filters inside `PushedFilters`, pruned `ReadSchema`,
`BroadcastHashJoin` for dimensions, no `CartesianProduct`, partial
(`HashAggregate` x2) aggregation.
"""


def main() -> None:
    spark = get_spark("explain_doc")
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [HEADER]
    for name, why in PICKS.items():
        # pinning disabled: show the FULL lineage of lazily-pinned
        # queries, not the post-checkpoint stub a production explain
        # shows (tree_of is shared with tools/plan_guard.py so the doc
        # and the guard can never disagree about what a plan contains)
        with pinning_disabled():
            df = REGISTRY[name][0](spark, "/root/testdata/sf0.001")
            plan = df._jdf.queryExecution().explainString(mode)
        tree = tree_of(plan).rstrip()
        scans = "\n".join(
            ln
            for ln in plan.splitlines()
            if ln.startswith(("PushedFilters", "ReadSchema", "PartitionFilters"))
        )
        out.append(
            f"## {name}\n\n*{why}*\n\n```\n{tree}\n```\n\nScan details:\n```\n{scans}\n```\n"
        )
    # persisted IVF index: not a registry query (reads a written path),
    # but its partition-pruned scan is the point of the layout
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.vectors import (
        ann_ivf_topk_indexed,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import write_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tmp_dir = tempfile.mkdtemp(prefix="explain_ivf_")
    try:
        write_ivf_index(emb, f"{tmp_dir}/ivf", dim=64, n_cells=8)
        q = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        df = ann_ivf_topk_indexed(
            spark, f"{tmp_dir}/ivf", q, k=5, dim=64, n_cells=8, nprobe=2
        )
        plan = df._jdf.queryExecution().explainString(mode)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    tree = plan[: plan.index("(1)")].rstrip()
    scans = "\n".join(
        ln
        for ln in plan.splitlines()
        if ln.startswith(("PushedFilters", "ReadSchema", "PartitionFilters"))
    )
    out.append(
        "## ann_ivf_topk_indexed (persisted IVF layout)\n\n"
        "*inverted-list pruning: the scan lists only the probed `_cell=` "
        "partitions — `PartitionFilters` carries the static IN plus "
        "Spark's dynamic pruning*\n\n"
        f"```\n{tree}\n```\n\nScan details:\n```\n{scans}\n```\n"
    )

    repo = pathlib.Path(__file__).resolve().parent.parent
    (repo / "EXPLAIN.md").write_text("\n".join(out))


if __name__ == "__main__":
    main()
