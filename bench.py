"""Benchmark: index build + query suite.

Headline: build the inverted index over a deterministic synthetic
transcript corpus scaled by sf (sf * 1M turns — BASELINE.json's input
shape; no external data), then run the reference-style query suite
against it, plus the training-data ops over the driver tables at
$SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...throughput extras}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TURNS_PER_SF = 1_000_000

GOLDENS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH", "goldens.json")


def maxscore_reduction(eng, rh_terms) -> dict:
    """Measured decode reduction of the MaxScore rare+head plan: the
    fraction of the head term's blocks (and postings) that the
    candidate-id broadcast keeps. Wall clock at sandbox scale is
    job-floor-bound (~0.3s/job vs ~5M decoded postings/s/core), so the
    honest scale metric is the decode/shuffle volume skipped — at
    10^9+ head postings that volume IS the query cost."""
    import numpy as np

    from pyspark.sql import functions as F
    from konlspark.oracle import bm25_idf
    rare, head = rh_terms
    meta = eng._term_meta([rare, head])
    if rare not in meta or head not in meta:
        return {}
    idf = {t: bm25_idf(eng.n_docs, m["df"]) for t, m in meta.items()}
    cand = np.sort(np.array(
        [r["doc_id"] for r in
         eng._decode(eng._blocks_for({rare: meta[rare]}), idf)
         .select("doc_id").distinct().collect()], dtype=np.int64))
    blocks = (eng._blocks_for({head: meta[head]})
              .select("first_doc_id", "last_doc_id", "n").collect())
    kept_blocks = kept_postings = 0
    for b in blocks:
        i = int(np.searchsorted(cand, b["first_doc_id"]))
        if i < len(cand) and cand[i] <= b["last_doc_id"]:
            kept_blocks += 1
            kept_postings += b["n"]
    total_postings = sum(b["n"] for b in blocks)
    return {
        "maxscore_head_blocks": len(blocks),
        "maxscore_kept_blocks": kept_blocks,
        "maxscore_head_postings": total_postings,
        "maxscore_kept_postings": kept_postings,
        "maxscore_decode_reduction": round(
            1.0 - kept_postings / max(1, total_postings), 4),
    }


# oracle-anchor goldens up to this size: the pure-python oracle indexes
# ~20k docs/s single-core, so 1M turns ≈ 50s — cheap enough to anchor
# every headline and scaling-leg size (beyond it, --anchor-oracle forces)
ANCHOR_MAX_TURNS = 1_000_000


def _host_steal() -> tuple:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return vals[7], sum(vals)


def _ids_sha(ids) -> str:
    import hashlib
    return hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()[:16]


def _anchor_against_oracle(tdf, got) -> None:
    """Absolute anchor for a bench-scale golden: replay the SAME corpus
    through the single-node oracle (id assignment included — same
    input order, same keep-first dedup) and require the engine's
    golden results — bm25 top-10, phrase ids, suggestions, df top-10 —
    to match it. Without this, a scale bug present at FIRST golden
    recording would be enshrined (the golden check alone only catches
    later regressions). Rows STREAM to the oracle via toLocalIterator
    (1M turns would be a ~300MB driver collect otherwise)."""
    from konlspark.oracle import OracleIndex
    ix = OracleIndex()
    for r in (tdf.select("conv_id", "turn_idx", "text")
              .orderBy("conv_id", "turn_idx").toLocalIterator()):
        ix.index(r["text"])
    errs = {}
    want_bm25 = dict(ix.bm25_topk(["마법", "특별"], k=10))
    got_bm25 = {doc_id: score for doc_id, score in got["bm25_top10"]}
    if set(want_bm25) != set(got_bm25) or any(
            abs(want_bm25[i] - got_bm25[i]) > 2e-6 for i in want_bm25):
        errs["bm25_top10"] = sorted(want_bm25.items())
    ph = sorted(ix.search(["마법", "특별"], "phrase", log=False))
    if (len(ph), _ids_sha(ph)) != (got["phrase_n"], got["phrase_sha"]):
        errs["phrase"] = {"n": len(ph), "sha": _ids_sha(ph)}
    sugg = ix.search_suggestions("특")
    if (len(sugg), _ids_sha(sugg)) != (got["sugg_teuk_n"],
                                       got["sugg_teuk_sha"]):
        errs["sugg_teuk"] = {"n": len(sugg), "sha": _ids_sha(sugg)}
    want_df = [[t, n] for t, n in sorted(
        ((t, len(s)) for t, s in ix.postings.items()),
        key=lambda x: (-x[1], x[0]))[:10]]
    if want_df != got["df_top10"]:
        errs["df_top10"] = want_df
    if errs:
        print(json.dumps({"oracle_anchor_mismatch": {
            "want": errs, "got": {k: got[k] for k in got}}}),
            file=sys.stderr)
        raise SystemExit("ORACLE ANCHOR MISMATCH at bench scale — the "
                         "golden would have enshrined a scale bug")


def check_golden(eng, manifest, n_turns, args, cluster_rows,
                 tdf=None, record=True) -> str:
    """Exact-result assertion at bench scale (reference kowiki.py:42-102
    asserts 300+ exact doc ids over 1.4M titles). Returns 'recorded' on
    first sight of this corpus key, 'ok' when results match the stored
    golden; raises SystemExit on mismatch. New keys small enough for
    the single-node oracle (or any key under --anchor-oracle) are
    additionally anchored against it — first-sight goldens are then
    oracle-anchored, not merely self-consistent."""
    from pyspark.sql import functions as F

    # _v2: widened beyond BM25+boolean — phrase (position alignment),
    # suggestions + df top-10 (token_dict merge) are equally
    # scale-sensitive, so the kill-restart and scaling legs now assert
    # them too. Stored _v1 entries stay in the file but are no longer
    # compared (the got-dict comparison is strict per key).
    key = (f"turns{n_turns}_seed42_w{args.min_words}-{args.max_words}"
           f"_cl{cluster_rows}_v2")
    bool_ids = [r["doc_id"] for r in
                eng.search(["건담"], "or", log=False).collect()]
    bm25 = [(r["doc_id"], round(r["score"], 6)) for r in
            eng.bm25_topk(["마법", "특별"], k=10, use_wand=False).collect()]
    phrase_ids = sorted(r["doc_id"] for r in eng.search(
        ["마법", "특별"], "phrase", log=False).collect())
    sugg = eng.search_suggestions("특")
    df_top = [[r["term"], r["df"]] for r in
              eng.token_dict.select("term", "df")
              .orderBy(F.desc("df"), F.asc("term")).limit(10).collect()]
    got = {
        "n_docs": manifest["n_docs"],
        "bool_gundam_n": len(bool_ids),
        "bool_gundam_sha": _ids_sha(bool_ids),
        "bm25_top10": [list(x) for x in bm25],
        "phrase_n": len(phrase_ids),
        "phrase_sha": _ids_sha(phrase_ids),
        "sugg_teuk_n": len(sugg),
        "sugg_teuk_sha": _ids_sha(sugg),
        "df_top10": df_top,
    }
    goldens = {}
    if os.path.exists(GOLDENS_PATH):
        with open(GOLDENS_PATH) as f:
            goldens = json.load(f)
    anchors = goldens.setdefault("_oracle_anchored", {})
    is_new = key not in goldens
    if is_new and not record:
        # read-only mode (r6 ADVICE): a caller asserting "the stored
        # golden holds" must FAIL on a missing key without enshrining a
        # golden computed from current-round code (which a re-run would
        # then silently pass against)
        return "missing"
    if not is_new:
        want = goldens[key]
        if want != got:
            print(json.dumps({"golden_mismatch": {
                "key": key, "want": want, "got": got}}), file=sys.stderr)
            raise SystemExit(f"GOLDEN MISMATCH at bench scale ({key}) — "
                             "scale-only correctness bug")
    status = "recorded" if is_new else "ok"
    force = getattr(args, "anchor_oracle", False)
    if tdf is not None and not anchors.get(key) and (
            force or (is_new and n_turns <= ANCHOR_MAX_TURNS)):
        _anchor_against_oracle(tdf, got)
        anchors[key] = True
        status += "+anchored"
        is_new = True  # rewrite the file with the anchor flag
    if is_new:
        goldens[key] = got
        os.makedirs(os.path.dirname(GOLDENS_PATH), exist_ok=True)
        with open(GOLDENS_PATH, "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
    return status


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))))
    ap.add_argument("--turns", type=int, default=0,
                    help="override synthetic corpus size (default sf*1M)")
    ap.add_argument("--min-words", type=int, default=3)
    ap.add_argument("--max-words", type=int, default=60,
                    help="turn length range; real transcript turns are "
                         "tens of words, making the build compute-bound")
    ap.add_argument("--segments", type=int, default=1)
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument("--anchor-oracle", action="store_true",
                    help="force oracle-anchoring the golden for this "
                         "corpus key even if already recorded")
    args = ap.parse_args()

    from pyspark.sql import functions as F  # noqa: F401

    from konlspark import build, contract, corpus
    from konlspark.query import SearchEngine
    from konlspark.session import get_spark

    sf_txt = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf_txt)
    except ValueError:
        sf = 0.0
    n_turns = args.turns or max(2000, int(TURNS_PER_SF * sf))

    # Partition heuristic: ~3 per core for straggler absorption (one
    # slow task costs 1/(3·cores) of a stage), but never so many that a
    # partition holds <~3k turns — at small inputs per-task fixed costs
    # dominate before tail latency does.
    parts = max(8, min(3 * args.cores,
                       max(args.cores, n_turns // 3000)))
    spark = get_spark("konlspark-bench", cores=args.cores,
                      shuffle_partitions=parts)
    timings: dict[str, float] = {}
    t_start = time.time()
    st0, tot0 = _host_steal()
    warmup_sec = 0.0  # warm-up work: reported, NOT in the headline value

    # --- headline: index build over sf*1M synthetic transcript turns -----
    root = f"/tmp/konlspark_bench_idx_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    # cluster_rows: a temporally-clustered rare topic term (realistic
    # transcript shape) — the MaxScore rare+head query regime
    cluster_rows = min(2000, max(1300, n_turns // 50))
    tdf = corpus.spark_make_transcripts(
        spark, n_turns, turns_per_conv=20, seed=42,
        min_words=args.min_words, max_words=args.max_words,
        num_partitions=max(8, args.cores),
        cluster_rows=cluster_rows).cache()
    tdf.count()  # materialize input outside the timed window
    # warm-up: spin up the Python workers / JIT on a tiny build so the
    # timed run measures steady state (cold-start is ~15s of pandas
    # imports across 32 workers, which would swamp scaling comparisons)
    t0 = time.time()
    warm = corpus.spark_transcripts(
        spark, corpus.make_transcripts(5000, seed=1))
    build.build_index(spark, warm, root + "_warm")
    shutil.rmtree(root + "_warm", ignore_errors=True)
    warmup_sec += time.time() - t0
    t0 = time.time()
    manifest = build.build_index(spark, tdf, root, n_segments=args.segments)
    timings["index_build"] = time.time() - t0

    extras = {
        "n_turns": n_turns,
        "cores": args.cores,
        "build_turns_per_sec": round(n_turns / timings["index_build"], 1),
        "build_phases": manifest["build_phases"],
    }

    # --- golden assertion at bench scale (kowiki analogue): the corpus
    # is deterministic per (n_turns, seed, params), so exact query
    # results are too. First run per key records them; every later run
    # (scaling legs included) fails LOUDLY on any scale-only
    # correctness bug (block boundaries, salt merge, varint overflow,
    # dedup drift) that small fixtures cannot catch.
    eng = SearchEngine(spark, root)
    golden_checked = check_golden(eng, manifest, n_turns, args,
                                  cluster_rows, tdf=tdf)
    extras["golden"] = golden_checked

    if not args.build_only:
        # warm the read path (token_dict cache fill, python decode
        # workers, and the per-plan-shape whole-stage-codegen JIT) so
        # the first timed query of each shape measures steady state,
        # not one-time Janino compilation
        t0 = time.time()
        eng.bm25_topk(["마법"], k=3, use_wand=False).collect()
        eng.bm25_topk(["마법", "특별"], k=10, use_wand=True).collect()
        warmup_sec += time.time() - t0

        def timed2(name, fn):
            """EVERY recorded query timing is min-of-3: single-shot
            timings of sub-second-to-seconds jobs on this shared VM
            carry 1.6–3.7× run-order noise (two rounds of driver
            artifacts showed multi-x 'regressions' on unchanged code
            that quiet-window reruns refuted). Min of three
            back-to-back runs is the honest steady-state number."""
            ts = []
            for _ in range(3):
                t0 = time.time()
                fn()
                ts.append(time.time() - t0)
            timings[name] = round(min(ts), 3)

        timed = timed2  # no single-shot timings remain

        # the wand-vs-exact guard pairs: registered so a failing pair
        # can be re-timed once (see guard below)
        guard_fns = {}

        def guarded2(name, fn):
            guard_fns[name] = fn
            timed2(name, fn)

        guarded2("q10_bm25_wand", lambda: eng.bm25_topk(
            ["마법", "특별"], k=10, use_wand=True).collect())
        guarded2("q10_bm25_exact", lambda: eng.bm25_topk(
            ["마법", "특별"], k=10, use_wand=False).collect())
        timed("q10_bm25_3term", lambda: eng.bm25_topk(
            ["spark", "query", "index"], k=10, use_wand=True).collect())
        # single-term: the case where the block floor fires once the
        # term's df reaches the pruning gate (k-th block max kills ~98%
        # of blocks); below the gate both legs run the exact plan and
        # the pair guards that the gate declines
        guarded2("q10_bm25_1term_wand", lambda: eng.bm25_topk(
            ["마법"], k=10, use_wand=True).collect())
        guarded2("q10_bm25_1term_exact", lambda: eng.bm25_topk(
            ["마법"], k=10, use_wand=False).collect())
        # rare+head: the MaxScore candidate regime — 'topicmarker' is
        # the clustered rare term, paired with the highest-df head term.
        # Pruned and exact results must be IDENTICAL (asserted below);
        # the gate keeps the pruned path off until the skipped decode
        # outweighs its extra driver jobs (MAXSCORE_MIN_NE_POSTINGS),
        # so the timing pair is a NO-REGRESSION guard at this scale
        # while maxscore_* extras report the measured decode reduction.
        head_term = (eng.token_dict.select("term", "df")
                     .orderBy(F.desc("df"), F.asc("term"))
                     .first()["term"])
        rh = ["topicmarker", head_term]
        # the pruning probes test the Spark tier's plans, which a small
        # request would skip for the driver tier (SearchEngine._local)
        spark_eng = SearchEngine(spark, root)
        spark_eng.LOCAL_MAX_POSTINGS = 0
        rh_wand = [(r["doc_id"], round(r["score"], 6)) for r in
                   spark_eng.bm25_topk(rh, k=10, use_wand=True).collect()]
        rh_exact = [(r["doc_id"], round(r["score"], 6)) for r in
                    spark_eng.bm25_topk(rh, k=10, use_wand=False).collect()]
        assert rh_wand == rh_exact, ("MaxScore != exact", rh_wand, rh_exact)
        guarded2("q10_bm25_rare_head_wand", lambda: eng.bm25_topk(
            rh, k=10, use_wand=True).collect())
        guarded2("q10_bm25_rare_head_exact", lambda: eng.bm25_topk(
            rh, k=10, use_wand=False).collect())
        extras.update(maxscore_reduction(eng, rh))
        timed("q2_or_search", lambda: eng.search(
            ["같은", "비스크"], "or", log=False).collect())
        timed("q3_and_search", lambda: eng.search(
            ["마법", "특별"], "and", log=False).collect())
        timed("q4_phrase", lambda: eng.search(
            ["마법", "특별"], "phrase", log=False).collect())
        timed("q6_suggestions", lambda: eng.search_suggestions("특"))

        # training-data ops over the driver tables at sf_dir
        qs = contract.queries()
        # warm the non-engine ops at the sibling small sf (same plan
        # SHAPES → whole-stage-codegen cache hits) so the timed run
        # measures steady-state throughput, not one-time Janino
        # compilation — the same policy the query warm-up above states
        t0 = time.time()
        warm_dir = os.path.join(
            os.path.dirname(args.sf_dir.rstrip("/")), "sf0.01")
        if os.path.isdir(warm_dir) and \
                warm_dir != args.sf_dir.rstrip("/"):
            for name in ["d1_word_jaccard_pairs", "d4_minhash_lsh_pairs",
                         "d5_simhash_pairs", "v1_cosine_topk",
                         "t1_token_counts", "j1_join_nation_revenue"]:
                qs[name](spark, warm_dir).collect()
        # q7's first call seeds the query log + runs the one-time
        # frequency aggregation (ingest work, idempotent); time the
        # steady-state query, not the seeding
        qs["q7_topk_frequency"](spark, args.sf_dir).collect()
        warmup_sec += time.time() - t0
        for name in ["b3_posting_aggregate", "q7_topk_frequency",
                     "d1_word_jaccard_pairs", "d4_minhash_lsh_pairs",
                     "d5_simhash_pairs", "v1_cosine_topk",
                     "t1_token_counts", "j1_join_nation_revenue"]:
            timed2(name, lambda n=name: qs[n](spark, args.sf_dir).collect())

        # batched multi-query execution (r6): 16 BM25 queries in ONE
        # plan — the amortized-job-floor number a production engine
        # serving a query log would see. Named without the q prefix so
        # search_queries_per_sec keeps meaning per-single-query jobs.
        base = ["마법", "특별", "건담", "같은", "비스크",
                "spark", "query", "index"]
        batch16 = {f"b{i:02d}": [base[i % 8], base[(i + 3) % 8]]
                   for i in range(16)}
        timed2("batch16_bm25", lambda: eng.bm25_topk_batch(
            batch16, k=10).collect())

        # batch-path MaxScore (r7): a rare+head batch — every 4th of 16
        # queries pairs the clustered rare term with the head term, the
        # regime where a 100 TB batch would otherwise decode the head
        # term's 10^9+ postings fully for the whole batch. At sandbox
        # scale the production gate (MAXSCORE_MIN_NE_POSTINGS, 6M
        # skippable postings, shared with the single-query plans) keeps
        # pruning off (the skipped decode is ~65k postings vs a ~0.3 s
        # extra-job floor), so the pruned timing TEMPORARILY drops the
        # gate to measure the ENGAGED plan — disclosed via
        # batch_maxscore_gate_dropped_for_timing. The pair is a
        # no-regression guard at this scale; the scale story is the
        # decode-reduction extras (the batch's essential union is the
        # same rare term as the single-query rare+head pair, so
        # maxscore_decode_reduction applies to the batch plan
        # unchanged). Results are asserted identical both ways.
        base_nh = [t for t in base if t != head_term]
        batch_rh = {f"b{i:02d}": (rh if i % 4 == 0 else
                                  [base_nh[i % len(base_nh)],
                                   base_nh[(i + 3) % len(base_nh)]])
                    for i in range(16)}

        def batch_rows(use_wand):
            got = {}
            for r in spark_eng.bm25_topk_batch(batch_rh, k=10,
                                               use_wand=use_wand).collect():
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], round(r["score"], 6)))
            return got

        brh_exact = batch_rows(False)
        old_gate = spark_eng.MAXSCORE_MIN_NE_POSTINGS
        spark_eng.MAXSCORE_MIN_NE_POSTINGS = 0
        try:
            # engagement: does the planner find a pruning plan for the
            # batch; parity: the public engaged plan equals exact
            meta_b = spark_eng._term_meta(
                [t for ts in batch_rh.values() for t in ts])
            extras["batch_maxscore_engaged"] = (
                spark_eng._prune_plan(batch_rh, meta_b, 10) is not None)
            assert batch_rows(True) == brh_exact, "batch MaxScore != exact"
            timed2("batch16_rh_wand", lambda: spark_eng.bm25_topk_batch(
                batch_rh, k=10, use_wand=True).collect())
        finally:
            spark_eng.MAXSCORE_MIN_NE_POSTINGS = old_gate
        timed2("batch16_rh_exact", lambda: spark_eng.bm25_topk_batch(
            batch_rh, k=10, use_wand=False).collect())
        extras["batch_maxscore_gate_dropped_for_timing"] = True

        q_total = sum(v for k, v in timings.items() if k.startswith("q"))
        n_q = sum(1 for k in timings if k.startswith("q"))
        extras["search_queries_per_sec"] = (
            round(n_q / q_total, 3) if q_total else 0.0)
        extras["batch16_queries_per_sec"] = round(
            16 / timings["batch16_bm25"], 2)
        # guard: pruned path must not lose to exact where the gate
        # fires. SELF-ENFORCING (r3 shipped a red guard as a green
        # round): a failing pair is re-timed (min-of-3 both sides) up
        # to twice, and a persistent failure exits nonzero below,
        # after the JSON line. Tolerance is ratio + ABSOLUTE slack:
        # both sides of every pair sit at the ~0.4-0.5s scheduler job
        # floor at sandbox scale, where co-tenant jitter alone exceeds
        # 15% — a real pruning regression shows up as a multi-x ratio,
        # which 1.3x + 0.15s still catches.
        pairs = [("q10_bm25_wand", "q10_bm25_exact"),
                 ("q10_bm25_1term_wand", "q10_bm25_1term_exact"),
                 ("q10_bm25_rare_head_wand", "q10_bm25_rare_head_exact")]

        def failing_pairs():
            return [w for w, e in pairs
                    if timings[w] > timings[e] * 1.3 + 0.15]

        retried = []
        guard_attempts: dict[str, list] = {}
        for _attempt in range(2):
            for w in failing_pairs():
                e = dict(pairs)[w]
                retried.append(w)
                # disclose every attempt's timings (r5 ADVICE): a guard
                # that only passes on retry is visible in the artifact
                guard_attempts.setdefault(w, [timings[w]])
                guard_attempts.setdefault(e, [timings[e]])
                timed2(w, guard_fns[w])
                timed2(e, guard_fns[e])
                guard_attempts[w].append(timings[w])
                guard_attempts[e].append(timings[e])
            if not failing_pairs():
                break
        if retried:
            extras["wand_guard_retried"] = retried
            extras["wand_guard_attempts"] = guard_attempts
        extras["wand_le_exact"] = not failing_pairs()

    # headline value = the timed work only (build + min-of-3 query
    # timings). Warm-up and the golden/anchor correctness checks are
    # reported separately — including them made the headline drift with
    # host noise and with how much correctness checking the run does,
    # neither of which is engine throughput.
    # metric_version 3 (r6 ADVICE): batch-capability lines (batch16_*)
    # are REPORTED in `queries` but EXCLUDED from the headline sum, so
    # `value`'s composition is the stable r5 component set — r6's 42.81
    # silently included the new 1.7 s batch16 line and broke the r5→r6
    # comparison; this pins the composition going forward.
    total = sum(v for k, v in timings.items()
                if not k.startswith("batch16"))
    st1, tot1 = _host_steal()
    out = {
        # metric_version history: v1 (r3/r4) single-shot wall time incl.
        # warm-up; v2 (r5/r6) sum of min-of-3 timed components; v3 (r7+)
        # same but batch16_* capability lines excluded from the sum.
        "metric": "index build (sf*1M synthetic transcript turns) + "
                  "BM25/boolean/dedup/similarity query suite: sum of "
                  "min-of-3 timed components (excl. warm-up and "
                  "batch16_* capability lines)",
        "metric_version": 3,
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "warmup_sec": round(warmup_sec, 2),
        "wall_total_sec": round(time.time() - t_start, 2),
        # host-contention fingerprint over the whole run (hypervisor
        # steal on all cpus): attributes future cross-round regressions
        # to host weather without a separate quiet-window record
        "steal_pct": round(100.0 * (st1 - st0) / max(1, tot1 - tot0), 2),
        **extras,
    }
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    if out.get("wand_le_exact") is False:
        # red guard after a retry: make the failure impossible to
        # commit silently as a green round
        sys.exit(1)


if __name__ == "__main__":
    main()
