"""Train the frozen model-based quality classifier artifact
(round-12 verdict item 3).

FineWeb-Edu (Penedo et al. 2024) and DCLM (Li et al. 2024) both rank
web documents with a TRAINED quality classifier — a model fit offline
on a labeled slice, then frozen and applied to the whole corpus — and
keep the high-scoring tail; it is the one standard LLM-pipeline
quality signal the engine's quality family (heuristic quality_score /
quality_filter, frozen-LM lm_perplexity) lacked. Same
train/freeze/apply seam as tools/train_lm.py / train_quantizer.py:

- TRAINING (this script, offline, once): MLlib LogisticRegression over
  bag-of-token count features (CountVectorizer capped at MAX_VOCAB) on
  the seeded reference corpus; the label is a median split on the
  engine's own continuous Gopher-style ``quality_score.quality``
  heuristic — the distillation move both papers use (an expensive
  teacher labels a slice, a cheap linear student scores the corpus;
  here the teacher is the heuristic the suite already oracle-checks,
  median-split because the binary keep verdict is degenerate on the
  reference corpus). FineWeb-Edu's student is a 300M
  embedding model + head; the linear-over-token-counts student is the
  same seam with an artifact small enough to commit AND to replay
  literal-for-literal in the DuckDB oracle.
- FREEZE: per-token weights + intercept stored as plain doubles
  (weights are computed HERE; neither engine does engine-local
  training math), with the corpus fingerprint guard of
  functions/artifacts.py — a reseeded testdata slice fails the
  integrity test instead of silently scoring a distribution the model
  was never fit to.
- APPLICATION (operators/text.py quality_classifier): explode ->
  broadcast weight join -> one per-doc sum = the logit. Out-of-vocab
  tokens contribute 0 (they carry no trained signal), mirrored exactly
  by the oracle's LEFT JOIN + coalesce(0). The gate compares the
  LOGIT, not the sigmoid — monotone, so the ranking/threshold
  semantics are identical and no engine does transcendental math on
  unshared inputs (the lm_perplexity xent-not-ppl convention).

At 100 TB the artifact is still metadata-sized (<= MAX_VOCAB weights)
and broadcast into the scoring plan; only TRAINING ran a Spark job.

Usage: python tools/train_classifier.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
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
DEFAULT_OUT = (
    pathlib.Path(__file__).resolve().parent.parent
    / "artifacts"
    / "quality_clf.json"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = pathlib.Path(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_OUT
    src = f"{sf_dir}/documents.parquet"
    spark = get_spark("train_classifier")

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import CountVectorizer

    docs = spark.read.parquet(src).select("doc_id", "text")
    # Teacher label: the CONTINUOUS Gopher-style quality heuristic,
    # median-split — the binary quality_filter.keep verdict is
    # degenerate on the reference corpus (everything passes; MLlib
    # then skips training and freezes all-zero weights), while the
    # median split is balanced by construction. Same distillation
    # seam: expensive-teacher labels, cheap linear student scores.
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import quality_score

    qs = quality_score(docs).select("doc_id", "quality")
    med = qs.agg(
        F.expr("percentile(quality, 0.5)").alias("m")
    ).collect()[0]["m"]
    labeled = (
        docs.join(
            qs.select(
                "doc_id",
                (F.col("quality") >= F.lit(float(med)))
                .cast("double")
                .alias("label"),
            ),
            "doc_id",
        )
        .withColumn("tk", F.expr(tokens_sql("text")))
        .select("doc_id", "tk", "label")
    )
    cv = CountVectorizer(
        inputCol="tk", outputCol="features", vocabSize=MAX_VOCAB
    ).fit(labeled)
    feats = cv.transform(labeled)
    # standardization=False keeps the coefficients in raw
    # count-per-token units, so w . counts + b IS the stored model —
    # no per-feature scale factors to freeze alongside; L2 keeps the
    # weights bounded when the heuristic labels are near-separable
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=0.01,
        elasticNetParam=0.0,
        standardization=False,
        maxIter=100,
    ).fit(feats)
    coefs = lr.coefficients.toArray()
    vocab = cv.vocabulary
    weights = {
        t: float(w) for t, w in zip(vocab, coefs) if float(w) != 0.0
    }
    # training-set agreement, for the record (not a holdout — the
    # artifact's contract is "frozen scorer", not "generalizing model")
    n = labeled.count()
    acc = (
        lr.transform(feats)
        .filter(F.col("prediction") == F.col("label"))
        .count()
        / max(n, 1)
    )
    art = {
        "trained_on": src,
        "max_vocab": MAX_VOCAB,
        "vocab_size": len(vocab),
        "n_docs": int(n),
        "train_accuracy": round(float(acc), 4),
        "intercept": float(lr.intercept),
        "weights": dict(sorted(weights.items())),
        "fingerprint": corpus_fingerprint(src, "doc_id", "text"),
    }
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(art, indent=1) + "\n")
    print(
        f"wrote {out} ({out.stat().st_size} bytes, vocab {len(vocab)}, "
        f"{len(weights)} nonzero weights, train acc {acc:.4f})"
    )


if __name__ == "__main__":
    main()
