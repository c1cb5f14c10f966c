"""The pruning planner on batches (``bm25_topk_batch(use_wand=True)``):
per-query parity with the exact single-query path, shared candidates,
lone-term floors, gain-aware fallback, and resource release."""

import datetime

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def batch_engine(spark, tmp_root):
    """4000 docs, TWO clustered rare terms + one ubiquitous head term:
    'rareterm' in docs 0-199, 'raretwo' in docs 1000-1199, 'headterm'
    everywhere — so a batch can hold several split queries whose
    essential terms differ, plus symmetric queries that must stay
    exact."""
    import pandas as pd

    from konlspark import build, corpus
    from konlspark.query import SearchEngine
    n = 4000
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    fillers = ["alpha", "beta", "gamma", "delta", "epsilon"]

    def text(i):
        parts = []
        if i < 200:
            parts.append("rareterm")
        if 1000 <= i < 1200:
            parts.append("raretwo")
        parts += ["headterm", fillers[i % 5], f"u{i}"]
        return " ".join(parts)

    pdf = pd.DataFrame({
        "conv_id": [f"c{i // 20:06d}" for i in range(n)],
        "turn_idx": pd.array([i % 20 for i in range(n)], dtype="int32"),
        "role": ["user"] * n,
        "text": [text(i) for i in range(n)],
        "tool": [""] * n,
        "ts": [ts] * n,
    })
    root = f"{tmp_root}/batch_maxscore_idx"
    build.build_index(spark, corpus.spark_transcripts(spark, pdf), root,
                      block_size=16)
    eng = SearchEngine(spark, root)
    eng.MAXSCORE_MIN_NE_POSTINGS = 0  # sandbox scale; see zipf_engine
    eng.LOCAL_MAX_POSTINGS = 0  # the Spark tier, whose plans these are
    return eng


# the pruning-eligible batch: two split queries (different essential
# terms), one symmetric, one unknown-term, one multi-rare
BATCH = {
    "q_rh": ["rareterm", "headterm"],
    "q_rh2": ["raretwo", "headterm"],
    "q_sym": ["alpha", "beta"],
    "q_unknown": ["nosuchterm"],
    "q_two_rare": ["rareterm", "raretwo"],
}


def _want(eng, batch, k):
    out = {}
    for qid, tokens in batch.items():
        out[qid] = [(r["doc_id"], round(r["score"], 9)) for r in
                    eng.bm25_topk(tokens, k=k, use_wand=False).collect()]
    return out


def _got(eng, batch, k, use_wand=True):
    out = {}
    for r in eng.bm25_topk_batch(batch, k=k, use_wand=use_wand).collect():
        out.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    return out


def test_batch_maxscore_parity(batch_engine):
    eng = batch_engine
    for k in (1, 3, 10):
        got = _got(eng, BATCH, k)
        want = _want(eng, BATCH, k)
        for qid in BATCH:
            assert got.get(qid, []) == want[qid], (qid, k)


def _plan(eng, batch, k=10):
    meta = eng._term_meta([t for ts in batch.values() for t in ts])
    return eng._prune_plan(batch, meta, k), meta


def _assert_parity(eng, batch, k=10):
    got, want = _got(eng, batch, k), _want(eng, batch, k)
    for qid in batch:
        assert got.get(qid, []) == want[qid], (qid, k)


def test_batch_maxscore_path_taken_and_prunes(batch_engine, spark,
                                               kept_blocks):
    """The shared split must engage for BATCH: the head term — in NE of
    both rare+head queries — is restricted to the union of both rare
    terms' docs, a strict subset of head blocks survives, and the
    public path persists nothing."""
    eng = batch_engine
    plan, meta = _plan(eng, BATCH)
    assert plan is not None
    keep, cand = plan
    assert keep is None and list(cand) == ["headterm"]
    rare_ids = sorted(r["doc_id"] for r in eng.search(
        ["rareterm", "raretwo"], "or", log=False).collect())
    assert cand["headterm"].tolist() == rare_ids
    # 400 clustered candidates / 4000 docs, 16-posting head blocks →
    # ~a tenth of head blocks survive
    n_kept, n_all = kept_blocks(eng, meta, "headterm", cand["headterm"])
    assert n_kept < n_all / 4, (n_kept, n_all)

    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert eng.bm25_topk_batch(BATCH, k=10).count() > 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base


def test_batch_maxscore_global_cap_demotion_parity(batch_engine):
    """r8 ADVICE item 4: the MAXSCORE_MAX_TOTAL_CAND demotion loop was
    unpinned (the 2M default never fires at fixture scale). Shrinking
    the cap must demote pruned terms costliest-first WITHOUT changing
    any result, and demote-until-empty must leave no plan (the exact
    path)."""
    eng = batch_engine
    want = _want(eng, BATCH, 10)
    old = eng.MAXSCORE_MAX_TOTAL_CAND
    try:
        for cap in (1, 100, 10_000):
            eng.MAXSCORE_MAX_TOTAL_CAND = cap
            got = _got(eng, BATCH, 10)
            for qid in BATCH:
                assert got.get(qid, []) == want[qid], (qid, cap)
        # cap=1 demotes every pruned term -> the planner declines
        eng.MAXSCORE_MAX_TOTAL_CAND = 1
        assert _plan(eng, BATCH)[0] is None
    finally:
        eng.MAXSCORE_MAX_TOTAL_CAND = old


def test_batch_maxscore_fallback_when_head_needed_fully(batch_engine):
    """A single-term head query on a term other queries also hold: no
    floor may apply to it, and it forces the head term into the full
    decode — pruning has nothing left to prune and the planner must
    decline, with results still exact."""
    eng = batch_engine
    batch = dict(BATCH, q_head=["headterm"])
    assert _plan(eng, batch)[0] is None
    _assert_parity(eng, batch)


def test_batch_lone_head_term_prunes_by_floor(batch_engine):
    """A lone single-term head query (its term held by no other query)
    gets the block floor: a strict subset of head blocks is kept, no
    candidates are collected, and results equal exact."""
    eng = batch_engine
    batch = {"q_head": ["headterm"], "q_sym": ["alpha", "beta"]}
    plan, meta = _plan(eng, batch)
    assert plan is not None
    keep, cand = plan
    assert keep is not None and cand == {}
    blocks = eng._blocks_for({"headterm": meta["headterm"]})
    assert blocks.filter(keep).count() < blocks.count()
    _assert_parity(eng, batch)


def test_batch_maxscore_all_symmetric_skips(batch_engine, count_jobs):
    """No query passes the df pre-gate → the planner declines on the
    driver: no stats job, no job over the exact plan."""
    eng = batch_engine
    batch = {"a": ["alpha", "beta"], "b": ["gamma", "delta"]}
    meta = eng._term_meta(["alpha", "beta", "gamma", "delta"])
    assert count_jobs(lambda: eng._prune_plan(batch, meta, 10)) == 0
    assert _plan(eng, batch)[0] is None
    assert (count_jobs(lambda: eng.bm25_topk_batch(batch, k=10).collect())
            == count_jobs(lambda: eng.bm25_topk_batch(
                batch, k=10, use_wand=False).collect()))
    _assert_parity(eng, batch)


def test_batch_maxscore_parity_on_zipf(spark, zipf_index):
    """Real Zipf corpus: a batch mixing the corpus' own rare+head pair
    with ordinary queries — pruned batch == per-query exact."""
    from konlspark.query import SearchEngine
    root, _ = zipf_index
    eng = SearchEngine(spark, root)
    eng.MAXSCORE_MIN_NE_POSTINGS = 0
    eng.LOCAL_MAX_POSTINGS = 0
    rows = (eng.token_dict.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term")).collect())
    terms = [(r["term"], r["df"]) for r in rows]
    head_t, head_df = terms[0]
    rare = next((t for t, df in reversed(terms)
                 if df >= 130 and head_df >= 4 * df), None)
    if rare is None:
        pytest.skip("corpus lacks a rare/head pair")
    batch = {
        "q_rh": [rare, head_t],
        "q_head2": [head_t, terms[1][0]],
        "q_mid": [terms[len(terms) // 3][0]],
    }
    for k in (3, 10):
        got = _got(eng, batch, k)
        want = _want(eng, batch, k)
        for qid in batch:
            assert got.get(qid, []) == want[qid], (qid, k)
