"""Pruned-vs-exact BM25 crossover, for a single query and for a batch.

Builds the bench corpus (seed 42, a clustered rare term ``topicmarker``),
then times the rare+head query and the bench's 16-query rare+head batch
(every 4th query pairs ``topicmarker`` with the head term) twice: on an
engine whose pruning gate is open (``MAXSCORE_MIN_NE_POSTINGS = 0``) and
with ``use_wand=False``. Runs are interleaved, min-of-N, and each leg
asserts the two give equal results. The jobs each plan launches are
counted through a job group, which shows the pruned plan engaged.

The gate compares the postings pruning can skip (here the head term's
df) against ``MAXSCORE_MIN_NE_POSTINGS``. Where the pruned plan loses,
its net overhead over the decode+shuffle slope of 0.173 s per M postings
(``BENCH/batch_maxscore_crossover_r8.json``) extrapolates the crossover,
which the gate constant should sit above.

Usage:
    python tools/prune_crossover.py [--turns 1000000] [--cores 32]
        [--repeats 3] [--out BENCH/prune_crossover.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SLOPE_SEC_PER_M = 0.173  # BENCH/batch_maxscore_crossover_r8.json


def rare_head_batch(rh: list, head_term: str) -> dict:
    """bench.py's batch16_rh: 16 two-term queries, every 4th ``rh``."""
    base = [t for t in ["마법", "특별", "건담", "같은", "비스크",
                        "spark", "query", "index"] if t != head_term]
    return {f"b{i:02d}": (rh if i % 4 == 0 else
                          [base[i % len(base)], base[(i + 3) % len(base)]])
            for i in range(16)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=1_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(
        REPO, "BENCH", "prune_crossover.json"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from konlspark import build, corpus
    from konlspark.query import SearchEngine
    from konlspark.session import get_spark

    spark = get_spark("konlspark-prune-crossover", cores=args.cores,
                      shuffle_partitions=max(8, 3 * args.cores))
    sc = spark.sparkContext
    tdf = corpus.spark_make_transcripts(
        spark, args.turns, turns_per_conv=20, seed=42, min_words=3,
        max_words=60, num_partitions=max(8, args.cores),
        cluster_rows=min(2000, max(1300, args.turns // 50))).cache()
    tdf.count()
    root = f"/tmp/konlspark_prune_crossover_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    build.build_index(spark, tdf, root)
    tdf.unpersist()
    exact_eng, pruned_eng = SearchEngine(spark, root), SearchEngine(spark, root)
    pruned_eng.MAXSCORE_MIN_NE_POSTINGS = 0
    for eng in (exact_eng, pruned_eng):
        eng.LOCAL_MAX_POSTINGS = 0  # both legs on the Spark tier
    head = (exact_eng.token_dict.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term")).first())
    rh = ["topicmarker", head["term"]]
    batch = rare_head_batch(rh, head["term"])
    legs = {
        "single": lambda eng, w: [
            (r["doc_id"], round(r["score"], 6))
            for r in eng.bm25_topk(rh, k=10, use_wand=w).collect()],
        "batch": lambda eng, w: [
            (r["query_id"], r["doc_id"], round(r["score"], 6))
            for r in eng.bm25_topk_batch(batch, k=10, use_wand=w).collect()],
    }

    def run(fn):
        group = f"prune-crossover-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "prune crossover")
        t0 = time.time()
        try:
            rows = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return (rows, round(time.time() - t0, 3),
                len(sc.statusTracker().getJobIdsForGroup(group)))

    out = {"turns": args.turns, "cores": args.cores,
           "repeats": args.repeats, "rh_terms": rh,
           "ne_postings": int(head["df"]), "legs": {}}
    for name, leg in legs.items():
        exact_rows, _, exact_jobs = run(lambda: leg(exact_eng, False))
        pruned_rows, _, pruned_jobs = run(lambda: leg(pruned_eng, True))
        assert pruned_rows == exact_rows, f"{name}: pruned != exact"
        exact_t, pruned_t = [], []
        for _ in range(args.repeats):
            exact_t.append(run(lambda: leg(exact_eng, False))[1])
            pruned_t.append(run(lambda: leg(pruned_eng, True))[1])
        overhead = round(min(pruned_t) - min(exact_t), 3)
        out["legs"][name] = {
            "exact_jobs": exact_jobs, "pruned_jobs": pruned_jobs,
            "exact_runs_sec": exact_t, "pruned_runs_sec": pruned_t,
            "net_overhead_sec": overhead,
            "fitted_crossover_ne_postings": int(
                out["ne_postings"] + max(0.0, overhead)
                / SLOPE_SEC_PER_M * 1e6),
        }
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
