"""Fit ``SearchEngine.LOCAL_MAX_POSTINGS`` from two measured costs.

The driver tier (``SearchEngine._local``) costs c0 + s·P for a request
decoding P postings; every Spark-tier plan launches at least one job
with a Python stage, whose floor J is paid however fast the executors
decode. So the driver tier wins for every P ≤ (J − c0) / s, whatever
the cluster's decode parallelism: that bound, rounded down to two
significant digits, is the gate.

Measured here, warm, median of ``--reps``:

- J: a one-row ``mapInArrow`` job (the Python-stage job floor);
- c0, s: a least-squares line through the driver tier's wall time (plan
  + collect) for BM25 OR requests over the 1, 2, 4, … highest-df terms
  of a seeded corpus; the Spark tier's time for the same requests is
  recorded beside it, as a check of the crossover.

Usage: python tools/fit_local_tier.py [--turns 100000] [--cores 4]
       [--out BENCH/local_tier_fit_r12.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _wall_ms(fn, reps: int) -> float:
    fn()  # warm
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(ts)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--turns", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default="BENCH/local_tier_fit_r12.json")
    args = ap.parse_args()

    import numpy as np

    from konlspark import build, corpus
    from konlspark.query import SearchEngine
    from konlspark.session import get_spark

    spark = get_spark("konlspark-local-tier-fit", cores=args.cores,
                      driver_memory="2g")
    root = tempfile.mkdtemp(prefix="konlspark_local_fit_")
    try:
        tdf = corpus.spark_make_transcripts(
            spark, args.turns, turns_per_conv=20, seed=1, min_words=10,
            max_words=60)
        build.build_index(spark, tdf, root)
        local, plan = SearchEngine(spark, root), SearchEngine(spark, root)
        local.LOCAL_MAX_POSTINGS = math.inf
        plan.LOCAL_MAX_POSTINGS = 0
        job_ms = _wall_ms(lambda: spark.range(1, numPartitions=1).mapInArrow(
            lambda it: it, "id long").collect(), args.reps)

        by_df = sorted(local._terms, key=lambda t: (-local._terms[t][0], t))
        points = []
        n = 1
        while n <= min(64, len(by_df)):
            q = by_df[:n]
            p = sum(local._terms[t][0] for t in q)
            points.append({
                "terms": n, "postings": p,
                "local_ms": round(_wall_ms(lambda: local.bm25_topk(
                    q, k=10, use_wand=False).collect(), args.reps), 1),
                "spark_ms": round(_wall_ms(lambda: plan.bm25_topk(
                    q, k=10, use_wand=False).collect(), args.reps), 1)})
            print(json.dumps(points[-1]), flush=True)
            n *= 2
        slope, c0 = np.polyfit([x["postings"] for x in points],
                               [x["local_ms"] for x in points], 1)
        bound = (job_ms - c0) / slope
        digits = 10 ** (len(str(int(bound))) - 2)
        record = {
            "turns": args.turns, "cores": args.cores, "reps": args.reps,
            "python_job_floor_ms": round(job_ms, 1),
            "local_fixed_ms": round(float(c0), 2),
            "local_ms_per_million_postings": round(float(slope) * 1e6, 1),
            "local_postings_per_s": round(1000.0 / float(slope)),
            "fit": "LOCAL_MAX_POSTINGS = floor2((J - c0) / s)",
            "fitted_bound": int(bound),
            "LOCAL_MAX_POSTINGS": int(bound // digits * digits),
            "points": points,
        }
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({k: v for k, v in record.items() if k != "points"}))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
