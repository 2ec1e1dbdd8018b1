"""Round-15 optimization measurement harness (guide §1).

Isolates each headline query: N timed runs of the bench action
(`.count()`, matching bench.py's methodology, with the construction
share — time and jobs before the action starts — split out) plus an optional noop-sink
run (guide §1.4 — computes every column, so column-pruning effects are
visible as the count-vs-noop gap), the Spark JOB COUNT the query
submits (driver-side fixed overhead dominates small-SF readings, and
every eager localCheckpoint / collect / convergence probe is a job),
and the formatted explain dumped to plans/<round>/<q>_<tag>.txt.

Usage:
  python tools/opt_measure.py [--tag before] [--runs 3] [--noop] [q ...]
with no query args, measures the full bench HEADLINE list.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import statistics
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE  # noqa: E402
from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import (  # noqa: E402
    REGISTRY,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.session import (  # noqa: E402
    get_spark,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--tag", default=None, help="dump explain to plans/<round>/<q>_<tag>.txt")
    ap.add_argument("--round", default="r16", help="plans/<round>/ subdir for explain dumps")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="also time a noop-sink run")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = args.queries or HEADLINE
    spark = get_spark(app_name="opt_measure")
    sc = spark.sparkContext
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()  # warmup

    plans_dir = REPO / "plans" / args.round
    if args.tag:
        plans_dir.mkdir(parents=True, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        fn, _sql = REGISTRY[name]
        sc.setJobDescription(f"opt:{name}")
        ts, build_ts = [], []
        build_jobs = 0
        dag = sc._jsc.sc().dagScheduler()
        jobs_before = dag.nextJobId()
        for _ in range(args.runs):
            t0 = time.time()
            j0 = dag.nextJobId()
            df = fn(spark, args.sf_dir)
            build_jobs += dag.nextJobId() - j0
            build_ts.append(round(time.time() - t0, 3))
            df.count()
            ts.append(round(time.time() - t0, 3))
        jobs_after = dag.nextJobId()
        rec = {
            "count": ts,
            "med": round(statistics.median(ts), 3),
            "jobs_per_run": round((jobs_after - jobs_before) / args.runs, 1),
            # construction-time share: jobs fired and seconds spent
            # before the count() action starts (pins, closure rounds,
            # bounded collects)
            "build_med": round(statistics.median(build_ts), 3),
            "build_jobs_per_run": round(build_jobs / args.runs, 1),
        }
        if args.noop:
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            rec["noop"] = round(time.time() - t0, 3)
        if args.tag:
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plans_dir / f"{name}_{args.tag}.txt").write_text(plan)
        out[name] = rec
        sc.setJobDescription(None)
        print(json.dumps({name: rec}), flush=True)
    total = round(sum(r["med"] for r in out.values()), 3)
    print(json.dumps({"total_med": total, "n": len(out)}), flush=True)


if __name__ == "__main__":
    main()
