"""Train the frozen DSIR target-distribution LM artifact (round-14
verdict item 4).

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling") selects pretraining data whose feature
distribution matches a TARGET corpus: importance weight
w(doc) = p_target(features) / p_raw(features), then sample
proportionally to w. The raw-distribution model is the engine's
existing frozen unigram LM (artifacts/lm.json, whole corpus); this
script freezes the TARGET side — the same add-one-smoothed unigram
estimator of tools/train_lm.py, fit on a target slice (here the
``source = 'src0'`` domain as the in-fixture stand-in for "a corpus
that looks like my eval domain"). Unigram-only: DSIR's features are
bag-of-ngrams, and the weight needs exactly logp_target - logp_raw
per token (operators/sampling.py dsir_importance_weights).

Same train/freeze/apply seam as every other artifact: metadata-sized,
trained offline, log-prob literals replayed verbatim by the DuckDB
oracle, fingerprint-locked to the training slice.

Usage: python tools/train_dsir_target.py [sf_dir] [out_json] [where]
"""

from __future__ import annotations

import json
import math
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from retrieval_augmented_generation_rag_data_pipeline_spark.functions.artifacts import (
    corpus_fingerprint,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.functions.hashing import tokens_sql
from retrieval_augmented_generation_rag_data_pipeline_spark.session import get_spark

MAX_VOCAB = 4096
DEFAULT_WHERE = "source = 'src0'"
DEFAULT_OUT = (
    pathlib.Path(__file__).resolve().parent.parent
    / "artifacts"
    / "lm_target.json"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = pathlib.Path(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_OUT
    where = sys.argv[3] if len(sys.argv) > 3 else DEFAULT_WHERE
    src = f"{sf_dir}/documents.parquet"
    spark = get_spark("train_dsir_target")

    from pyspark.sql import functions as F

    docs = spark.read.parquet(src).where(where)
    counts = (
        docs.selectExpr(f"explode({tokens_sql('text')}) AS term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(MAX_VOCAB)
        .collect()
    )
    total = docs.select(
        F.expr(f"sum(size({tokens_sql('text')}))").alias("t")
    ).collect()[0]["t"]
    v = len(counts)
    denom = float(total + v + 1)
    logp = {r["term"]: math.log((r["c"] + 1) / denom) for r in counts}
    art = {
        "trained_on": src,
        "where": where,
        "max_vocab": MAX_VOCAB,
        "vocab_size": v,
        "total_tokens": int(total),
        "oov_logp": math.log(1.0 / denom),
        "logp": dict(sorted(logp.items())),
        "fingerprint": corpus_fingerprint(src, "doc_id", "text", where=where),
    }
    out.write_text(json.dumps(art, indent=1) + "\n")
    print(f"wrote {out} ({out.stat().st_size} bytes, vocab {v}, T {total})")


if __name__ == "__main__":
    main()
