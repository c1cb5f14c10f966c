"""Mutation-path exercise at bench scale (B5/B6/compaction parity).

tests/test_ingest.py proves append/delete/compact at fixture scale;
r4's segmented-resume leg proved the BUILD path at 1M turns under
SIGKILL. This tool proves the MUTATION path at the same scale:

1. build the deterministic 1M-turn bench corpus into a base index;
2. append a 100k-turn batch (90% fresh turns + 10% copies of live
   texts, so dup-conflict handling runs at scale) and assert the
   lineage identity ``indexed + conflicts == rows_in`` plus the
   conflicts-TABLE growth matching the reported count;
3. tombstone-delete 10k spread doc ids (base AND appended ranges);
4. FULL QUERY PARITY: fingerprint the mutated index (multi-part
   postings + tombstone anti-joins + the delete-committed token_dict)
   against a FRESH single-part build over the identical live corpus.
   Every fingerprint is keyed by text_hash / term — invariant to
   doc-id assignment, which legitimately differs (ids never recycle);
5. compact, assert WAND re-arms (avgdl_built == live avgdl, no
   tombstones), re-assert the same fingerprint, and assert the pruned
   path equals exact post-compact.

Records evidence to BENCH/mutation_leg_r<round>.json.

Usage:
    python tools/bench_mutation_leg.py [--turns 1000000]
        [--append-turns 100000] [--delete 10000] [--cores 32]
        [--out PATH]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _sha16(xs) -> str:
    return hashlib.sha256(",".join(map(str, xs)).encode()).hexdigest()[:16]


def fingerprint(eng) -> dict:
    """Id-free query fingerprint: every doc-level result is mapped to
    its text_hash (mutated and fresh indexes assign different doc ids
    to appended docs by design), term-level results compare directly."""
    from pyspark.sql import functions as F

    hmap = eng.docs.select("doc_id", "text_hash")

    def hashes(df):
        rows = df.join(hmap, "doc_id").select("text_hash").collect()
        return sorted(r["text_hash"] for r in rows)

    fp = {"n_docs": len(eng)}
    for name, tokens, mode in [("bool_gundam", ["건담"], "or"),
                               ("and_magic", ["마법", "특별"], "and"),
                               ("phrase_magic", ["마법", "특별"], "phrase")]:
        hs = hashes(eng.search(tokens, mode, log=False))
        fp[f"{name}_n"] = len(hs)
        fp[f"{name}_sha"] = _sha16(hs)
    bm = (eng.bm25_topk(["마법", "특별"], k=10, use_wand=False)
          .join(hmap, "doc_id").select("text_hash", "score").collect())
    fp["bm25_top10"] = sorted([r["text_hash"], round(r["score"], 6)]
                              for r in bm)
    sugg = eng.search_suggestions("특")
    fp["sugg_teuk_n"] = len(sugg)
    fp["sugg_teuk_sha"] = _sha16(sugg)
    fp["df_top10"] = [[r["term"], r["df"]] for r in
                      eng.token_dict.select("term", "df")
                      .orderBy(F.desc("df"), F.asc("term")).limit(10)
                      .collect()]
    return fp


def _diff(a: dict, b: dict) -> dict:
    return {k: {"mutated": a[k], "fresh": b.get(k)}
            for k in a if a[k] != b.get(k)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=1_000_000)
    ap.add_argument("--append-turns", type=int, default=100_000)
    ap.add_argument("--delete", type=int, default=10_000)
    ap.add_argument("--cores", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))))
    ap.add_argument("--out", default=os.path.join(
        REPO, "BENCH", "mutation_leg_r6.json"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from konlspark import build, corpus, ingest
    from konlspark.catalog import IndexCatalog, Snapshot
    from konlspark.query import SearchEngine
    from konlspark.session import get_spark

    root = f"/tmp/konlspark_mutleg_{os.getpid()}"
    fresh_root = root + "_fresh"
    for r in (root, fresh_root):
        shutil.rmtree(r, ignore_errors=True)
    cluster_rows = min(2000, max(1300, args.turns // 50))
    parts = max(8, min(3 * args.cores,
                       max(args.cores, args.turns // 3000)))
    spark = get_spark("konlspark-mutleg", cores=args.cores,
                      shuffle_partitions=parts)
    record = {"turns": args.turns, "append_turns": args.append_turns,
              "delete": args.delete, "cores": args.cores}

    print(f"base build: {args.turns} turns...")
    tdf = corpus.spark_make_transcripts(
        spark, args.turns, turns_per_conv=20, seed=42,
        min_words=3, max_words=60, num_partitions=max(8, args.cores),
        cluster_rows=cluster_rows).cache()
    tdf.count()
    t0 = time.time()
    manifest = build.build_index(spark, tdf, root)
    record["base_build_sec"] = round(time.time() - t0, 1)

    # the base corpus is the SAME deterministic bench corpus, so the
    # stored oracle-anchored _v2 golden (boolean/BM25/phrase/
    # suggestions/df) must hold on this round's code BEFORE any
    # mutation runs — the mutation leg then re-proves those families
    # post-append/delete/compact via the fingerprint parity below
    import argparse as _ap

    import bench as _bench
    # record=False (r6 ADVICE): a missing base golden must fail loudly
    # WITHOUT writing one — otherwise the failed run enshrines a golden
    # from current-round code and a re-run passes vacuously
    status = _bench.check_golden(
        SearchEngine(spark, root), manifest, args.turns,
        _ap.Namespace(min_words=3, max_words=60, anchor_oracle=False),
        cluster_rows, tdf=None, record=False)
    assert status == "ok", f"base golden not previously recorded: {status}"
    record["base_golden_v2"] = status

    # --- append: fresh turns + guaranteed dup-conflicts ------------------
    dup_n = args.append_turns // 10
    fresh_n = args.append_turns - dup_n
    fresh = (corpus.spark_make_transcripts(
        spark, fresh_n, turns_per_conv=20, seed=4242,
        min_words=3, max_words=60, num_partitions=max(8, args.cores))
        .withColumn("conv_id", F.concat(F.lit("app-"), F.col("conv_id"))))
    dups = (tdf.orderBy("conv_id", "turn_idx").limit(dup_n)
            .withColumn("conv_id", F.concat(F.lit("dup-"), F.col("conv_id"))))
    batch = fresh.unionByName(dups)
    # the base build already committed its intra-corpus dup conflicts;
    # the append adds a part — assert the delta, not the absolute count
    def conflict_rows():
        return Snapshot(spark, IndexCatalog(root)).read("conflicts").count()
    conflicts_before = conflict_rows()
    t0 = time.time()
    res = ingest.append_batch(spark, root, batch)
    record["append_sec"] = round(time.time() - t0, 1)
    record["append_indexed"] = res["indexed"]
    record["append_conflicts"] = res["conflicts"]
    assert res["indexed"] + res["conflicts"] == args.append_turns, res
    # every dup-batch text already lives in the index → all conflict
    assert res["conflicts"] >= dup_n, (res, dup_n)
    table_rows = conflict_rows()
    assert table_rows == conflicts_before + res["conflicts"], (
        "conflicts table != reported count", table_rows, res)
    print(f"  appended {res['indexed']}, conflicts {res['conflicts']} "
          f"(table verified)")

    # --- delete: spread ids across base AND appended ranges --------------
    eng0 = SearchEngine(spark, root)
    max_id = int(eng0.manifest["max_doc_id"])
    step = max(1, max_id // args.delete)
    victim_ids = list(range(1, max_id + 1, step))[:args.delete]
    t0 = time.time()
    dres = ingest.delete_docs(spark, root, victim_ids)
    record["delete_sec"] = round(time.time() - t0, 1)
    record["deleted"] = dres["deleted"]
    assert dres["deleted"] == len(victim_ids), (dres, len(victim_ids))

    # --- parity: mutated read path vs fresh build over same corpus ------
    eng_mut = SearchEngine(spark, root)
    assert not eng_mut.wand_safe, \
        "pruning must auto-disable while tombstones are live"
    t0 = time.time()
    fp_mut = fingerprint(eng_mut)
    record["fingerprint_mut_sec"] = round(time.time() - t0, 1)

    live = eng_mut.docs.select("conv_id", "turn_idx", "role", "text",
                               "tool", "ts")
    t0 = time.time()
    build.build_index(spark, live, fresh_root)
    record["fresh_build_sec"] = round(time.time() - t0, 1)
    eng_fresh = SearchEngine(spark, fresh_root)
    fp_fresh = fingerprint(eng_fresh)
    d = _diff(fp_mut, fp_fresh)
    assert not d, f"mutated-vs-fresh parity FAILED: {json.dumps(d)[:2000]}"
    record["parity_pre_compact"] = "ok"
    record["live_docs"] = fp_mut["n_docs"]
    print(f"  pre-compact parity ok over {fp_mut['n_docs']} live docs")

    # --- compact: WAND re-arms, parity holds, pruned == exact ------------
    t0 = time.time()
    cres = ingest.compact(spark, root)
    record["compact_sec"] = round(time.time() - t0, 1)
    eng_c = SearchEngine(spark, root)
    assert eng_c.wand_safe, "compact must restore pruning eligibility"
    assert cres["n_docs"] == fp_mut["n_docs"], (cres, fp_mut["n_docs"])
    fp_c = fingerprint(eng_c)
    d = _diff(fp_c, fp_fresh)
    assert not d, f"post-compact parity FAILED: {json.dumps(d)[:2000]}"
    record["parity_post_compact"] = "ok"
    wand = [(r["doc_id"], round(r["score"], 6)) for r in
            eng_c.bm25_topk(["마법", "특별"], k=10, use_wand=True).collect()]
    exact = [(r["doc_id"], round(r["score"], 6)) for r in
             eng_c.bm25_topk(["마법", "특별"], k=10,
                             use_wand=False).collect()]
    assert wand == exact, ("post-compact WAND != exact", wand, exact)
    record["post_compact_wand_eq_exact"] = True
    print("  post-compact parity ok; WAND re-armed and equals exact")

    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    for r in (root, fresh_root):
        shutil.rmtree(r, ignore_errors=True)


if __name__ == "__main__":
    main()
