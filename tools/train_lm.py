"""Train the frozen n-gram LM quality artifact (round-11 verdict item 4).

CCNet (Wenzek et al. 2020) ranks web documents by perplexity under a
reference language model and keeps the low-perplexity tail — the
strongest standard quality signal the quality family (quality_score /
quality_filter) lacked. Same train/freeze/apply seam as the quantizer:

- TRAINING (this script, offline, once): a unigram count table over
  the seeded reference corpus, add-one smoothed against an OOV bucket,
  frozen as per-token log-probabilities. CCNet uses a 5-gram KenLM; the
  unigram table is the same seam with an artifact small enough to
  commit AND to replay literal-for-literal in the DuckDB oracle. At
  100 TB the table is still metadata-sized (top-MAX_VOCAB tokens) and
  broadcast into the scoring plan.
- APPLICATION (operators/text.py lm_cross_entropy): explode ->
  broadcast vocab join -> per-doc log-prob sum. Pure relational math,
  so the lm_perplexity gate query and its oracle consume the SAME
  frozen literals and the driver gets the full rows+schema+hash check.

Model — two tiers, one artifact:

- unigram: p(t) = (count(t) + 1) / (T + V + 1) for the V vocab tokens,
  p(OOV) = 1 / (T + V + 1) (one pooled OOV symbol — the standard
  add-one trick; good ranking signal, not a calibrated LM).
- conditional bigram (round 11, the word-order signal the unigram
  cannot see): p(t | s) = (count(s,t) + 1) / (count(s,·) + V + 1) for
  stored (s,t) pairs, with per-context unseen mass
  p_unseen(s) = 1 / (count(s,·) + V + 1); a context s outside the
  table (or a document's first token) falls back to the unigram tier.
  The pair table is capped at MAX_BIGRAMS by (count desc, s, t) —
  capped-out pairs score as unseen-within-context on BOTH engines (the
  artifact is the model; coarser, never inconsistent). The context
  table is capped to the stored vocabulary (<= MAX_VOCAB rows) for the
  same reason — capped-out contexts fall back to the unigram tier on
  both engines, and the artifact / driver collect / broadcast / oracle
  VALUES literal all stay metadata-sized regardless of the training
  corpus's distinct-token count.

Log-probs are computed HERE (Python math.log) and stored, so neither
engine does engine-local transcendental math on unshared inputs.

The artifact embeds a fingerprint of the training slice (row count +
content hash — functions/artifacts.py): if the driver reseeds
testdata, tests/test_text_ops.py fails loudly instead of the frozen table
silently scoring a distribution it was never fit to (round-11 verdict
item 5).

Usage: python tools/train_lm.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import math
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.functions.artifacts import (
    corpus_fingerprint,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.functions.hashing import tokens_sql
from retrieval_augmented_generation_rag_data_pipeline_spark.session import get_spark

MAX_VOCAB = 4096
MAX_BIGRAMS = 8192
DEFAULT_OUT = (
    pathlib.Path(__file__).resolve().parent.parent / "artifacts" / "lm.json"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = pathlib.Path(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_OUT
    src = f"{sf_dir}/documents.parquet"
    spark = get_spark("train_lm")
    counts = (
        spark.read.parquet(src)
        .selectExpr(f"explode({tokens_sql('text')}) AS term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(MAX_VOCAB)
        .collect()
    )
    total = (
        spark.read.parquet(src)
        .selectExpr(f"sum(size({tokens_sql('text')})) AS t")
        .collect()[0]["t"]
    )
    v = len(counts)
    denom = float(total + v + 1)
    logp = {r["term"]: math.log((r["c"] + 1) / denom) for r in counts}
    # conditional-bigram tier: adjacent (prev, tok) pairs via a
    # zip-with-shifted-self explode — one distributed pass each for the
    # pair counts and the per-context totals
    toks_arr = F.expr(tokens_sql("text"))
    pairs = (
        spark.read.parquet(src)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(toks_arr, 2, F.greatest(F.size(toks_arr) - 1, F.lit(0))).alias("t"),
                    F.slice(toks_arr, 1, F.greatest(F.size(toks_arr) - 1, F.lit(0))).alias("s"),
                )
            ).alias("p")
        )
        .select(F.col("p.s").alias("s"), F.col("p.t").alias("t"))
    )
    # Contexts are CAPPED to the stored vocabulary (<= MAX_VOCAB rows)
    # — the artifact's size contract. Without this, ctx_counts /
    # ctx_unseen_logp grow with the distinct-token count of the
    # training corpus: an unbounded driver collect here, an unbounded
    # committed artifact, an unbounded broadcast in
    # lm_cross_entropy_bigram, and an unbounded VALUES literal in the
    # oracle SQL. A context outside the vocab falls back to the
    # unigram tier identically on both engines (the same rule as a
    # document-first token), so the capped model stays consistent —
    # just coarser, exactly like the MAX_BIGRAMS cap one level down.
    vocab_df = spark.createDataFrame(
        [(r["term"],) for r in counts], "s string"
    )
    vpairs = pairs.join(F.broadcast(vocab_df), "s", "inner")
    ctx_counts = {
        r["s"]: r["c"]
        for r in vpairs.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    bi_counts = (
        vpairs.groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("s"), F.asc("t"))
        .limit(MAX_BIGRAMS)
        .collect()
    )
    bigram_logp = {
        f"{r['s']} {r['t']}": math.log(
            (r["c"] + 1) / (ctx_counts[r["s"]] + v + 1)
        )
        for r in bi_counts
    }
    ctx_unseen_logp = {
        s: math.log(1.0 / (c + v + 1)) for s, c in ctx_counts.items()
    }
    art = {
        "trained_on": src,
        "max_vocab": MAX_VOCAB,
        "max_bigrams": MAX_BIGRAMS,
        "vocab_size": v,
        "total_tokens": int(total),
        "oov_logp": math.log(1.0 / denom),
        "logp": dict(sorted(logp.items())),
        "bigram_logp": dict(sorted(bigram_logp.items())),
        "ctx_unseen_logp": dict(sorted(ctx_unseen_logp.items())),
        "fingerprint": corpus_fingerprint(src, "doc_id", "text"),
    }
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(art, indent=1) + "\n")
    print(f"wrote {out} ({out.stat().st_size} bytes, vocab {v}, T {total})")


if __name__ == "__main__":
    main()
