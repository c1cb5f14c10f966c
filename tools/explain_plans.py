"""Print formatted physical plans for the engine's key paths and assert
the plan properties we design for (SURVEY §4.2):

- postings scan at query time: PartitionFilters on term_bucket
  (directory pruning) + PushedFilters on term;
- docs point/range get: PushedFilters on doc_id;
- token_dict prefix scan: pushed StartsWith;
- OR/AND fold and BM25 agg: hash aggregate with partial (map-side)
  aggregation, whole-stage codegen spans around the decode UDF;
- a one-query BM25 batch: the single-query plan (TakeOrderedAndProject,
  no two-stage per-query top-k).

Usage: python tools/explain_plans.py [index_root]
(without a root, it builds a 3,000-turn index in a temp dir)
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from konlspark import build, corpus
    from konlspark.query import SearchEngine
    from konlspark.session import get_spark

    spark = get_spark("explain", cores=8, shuffle_partitions=8)
    if len(sys.argv) > 1:
        root = sys.argv[1]
    else:
        # a fresh build each run: a kept index may predate the format
        root = tempfile.mkdtemp(prefix="konlspark_explain_")
        atexit.register(shutil.rmtree, root, True)
        pdf = corpus.make_transcripts(3000, seed=11)
        build.build_index(spark, corpus.spark_transcripts(spark, pdf), root)
    eng = SearchEngine(spark, root)
    # the plans shown are the Spark tier's: at this scale every request
    # would otherwise run on the driver (SearchEngine._local)
    eng.LOCAL_MAX_POSTINGS = 0

    checks = []

    def show(title, df, expect=()):
        jvm = spark.sparkContext._jvm
        plan = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        print(f"\n{'='*72}\n## {title}\n{'='*72}\n{plan}")
        for e in expect:
            # "!X" asserts X is ABSENT from the plan
            ok = (e[1:] not in plan) if e.startswith("!") else (e in plan)
            checks.append((title, e, ok))

    meta = eng._term_meta(["마법", "특별"])
    blocks = eng._blocks_for(meta)
    show("postings scan (pruned by term_bucket + term)", blocks,
         ["PartitionFilters: [term_bucket", "PushedFilters: [In(term"])
    show("BM25 top-k (exact)", eng.bm25_topk(["마법", "특별"], k=10,
                                             use_wand=False),
         ["TakeOrderedAndProject", "HashAggregate"])
    # a batch of one runs the single-query plan: no two-stage
    # collect_list top-k (ObjectHashAggregate) for one query
    show("BM25 top-k, batch of one (single-query plan)",
         eng.bm25_topk_batch({"q": ["마법", "특별"]}, k=10, use_wand=False),
         ["TakeOrderedAndProject", "!ObjectHashAggregate"])
    # the WAND/MaxScore metadata pass must be a two-stage PARTIAL
    # top-k (per-(term, input-partition) aggregate, then a merge of ≤k
    # survivors) — a Window over `term` is a single-task sort on a head
    # term's ~10^7-10^9 metadata rows at the 100 TB target
    show("per-term block stats (two-stage partial top-k, no window)",
         eng._per_term_block_stats(blocks, 10),
         ["ObjectHashAggregate", "partial_collect_list", "!Window"])
    show("AND search", eng.search(["마법", "특별"], "and", log=False),
         ["HashAggregate"])
    show("docs point get", eng.get(10),
         ["PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,10)"])
    show("token_dict prefix scan",
         eng.token_dict.filter(F.col("decomposed").startswith("ㅌ"))
            .select("term").orderBy("term"),
         # parquet PushedFilters (StringStartsWith)
         ["StartsWith(decomposed"])
    show("phrase candidates join", eng.search(["마법", "특별"], "phrase",
                                              log=False), [])

    print("\n" + "=" * 72)
    failed = [c for c in checks if not c[2]]
    for title, e, ok in checks:
        print(("PASS " if ok else "FAIL ") + f"{title}: expects {e!r}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
