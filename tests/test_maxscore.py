"""BM25 pruning through the one planner (``SearchEngine._prune_plan``):
exactness vs the unpruned path, candidate-restricted decode, the job
budget, gate behavior and resource release."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def zipf_engine(spark, zipf_index):
    from konlspark.query import SearchEngine
    root, _ = zipf_index
    eng = SearchEngine(spark, root)
    # production gate: the skipped decode must beat the extra jobs —
    # no fixture df reaches it, so open it for these tests, on the
    # Spark tier whose plans the pruning serves
    eng.MAXSCORE_MIN_NE_POSTINGS = 0
    eng.LOCAL_MAX_POSTINGS = 0
    return eng


def _terms_by_df(eng):
    rows = (eng.token_dict.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term")).collect())
    return [(r["term"], r["df"]) for r in rows]


def _rare_and_head(eng, min_ratio=4):
    terms = _terms_by_df(eng)
    head_t, head_df = terms[0]
    # rarest term that still has >= 2 blocks at block_size 64 (so the
    # per-term k-th-block-max bound can exist for small k)
    for t, df in reversed(terms):
        if df >= 130 and head_df >= min_ratio * df:
            return (t, df), (head_t, head_df)
    pytest.skip("corpus lacks a rare/head pair")


def _topk(eng, tokens, k, use_wand):
    return [(r["doc_id"], round(r["score"], 9)) for r in
            eng.bm25_topk(tokens, k=k, use_wand=use_wand).collect()]


def test_maxscore_equals_exact_rare_plus_head(zipf_engine):
    eng = zipf_engine
    (rare, _), (head, _) = _rare_and_head(eng)
    for k in (1, 3, 10):
        assert _topk(eng, [rare, head], k, True) == \
            _topk(eng, [rare, head], k, False), (rare, head, k)


def test_maxscore_equals_exact_three_terms(zipf_engine):
    eng = zipf_engine
    terms = _terms_by_df(eng)
    head = terms[0][0]
    mid = terms[len(terms) // 3][0]
    rare = next(t for t, df in reversed(terms) if df >= 130)
    assert _topk(eng, [rare, mid, head], 10, True) == \
        _topk(eng, [rare, mid, head], 10, False)


@pytest.fixture(scope="module")
def clustered_engine(spark, tmp_root):
    """4000 docs: 'head' in every doc, 'rare' clustered in the first 200
    — the sparse-candidate regime where the candidate broadcast
    actually skips head blocks (at 100 TB, ANY selective term is sparse
    relative to head block spans; the tiny zipf fixture is too dense)."""
    import datetime

    import pandas as pd

    from konlspark import build, corpus
    from konlspark.query import SearchEngine
    n = 4000
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    fillers = ["alpha", "beta", "gamma", "delta", "epsilon"]
    pdf = pd.DataFrame({
        "conv_id": [f"c{i // 20:06d}" for i in range(n)],
        "turn_idx": pd.array([i % 20 for i in range(n)], dtype="int32"),
        "role": ["user"] * n,
        "text": [("rareterm headterm " if i < 200 else "headterm ")
                 + f"{fillers[i % 5]} u{i}"  # u{i} keeps texts unique
                 for i in range(n)],
        "tool": [""] * n,
        "ts": [ts] * n,
    })
    root = f"{tmp_root}/maxscore_idx"
    build.build_index(spark, corpus.spark_transcripts(spark, pdf), root,
                      block_size=16)  # rare df 200 -> 13 blocks >= k=10
    eng = SearchEngine(spark, root)
    eng.MAXSCORE_MIN_NE_POSTINGS = 0  # see zipf_engine
    eng.LOCAL_MAX_POSTINGS = 0
    return eng


def test_maxscore_path_taken_and_prunes(clustered_engine, kept_blocks):
    """The planner must split a rare+head query (no floor; the head
    term restricted to the rare term's docs), keep a strict subset of
    head blocks, and the public path must equal exact."""
    eng = clustered_engine
    rh = ["rareterm", "headterm"]
    meta = eng._term_meta(rh)
    plan = eng._prune_plan({"q": rh}, meta, 10)
    assert plan is not None
    keep, cand = plan
    assert keep is None and list(cand) == ["headterm"]
    rare_ids = sorted(r["doc_id"] for r in eng.search(
        ["rareterm"], "or", log=False).collect())
    assert cand["headterm"].tolist() == rare_ids
    # 200 clustered candidates / 4000 docs, 16-posting head blocks →
    # ~13 of ~250 head blocks survive
    n_kept, n_all = kept_blocks(eng, meta, "headterm", cand["headterm"])
    assert n_kept < n_all / 4, (n_kept, n_all)
    for k in (1, 10):
        assert _topk(eng, rh, k, True) == _topk(eng, rh, k, False)


def test_pruned_plans_job_budget(clustered_engine, count_jobs):
    """Each pruned plan adds at most its stats job (3 jobs) and one
    candidate collect to the exact plan (a lone term needs no collect);
    a declined gate adds none."""
    eng = clustered_engine
    rh, one = ["rareterm", "headterm"], ["headterm"]

    def jobs(fn, q, **kw):
        return count_jobs(lambda: fn(q, k=10, **kw).collect())

    plans = [(eng.bm25_topk, rh, 4), (eng.bm25_topk, one, 3),
             (eng.bm25_topk_batch, {"q": rh}, 4)]
    exact = [jobs(f, q, use_wand=False) for f, q, _ in plans]
    for (f, q, extra), n_exact in zip(plans, exact):
        assert n_exact < jobs(f, q) <= n_exact + extra, (q, n_exact)
    eng.MAXSCORE_MIN_NE_POSTINGS = type(eng).MAXSCORE_MIN_NE_POSTINGS
    try:
        for (f, q, _), n_exact in zip(plans, exact):
            assert jobs(f, q) == n_exact, q
    finally:
        eng.MAXSCORE_MIN_NE_POSTINGS = 0


def test_symmetric_query_skips_maxscore(zipf_engine, count_jobs):
    """Two head terms (df ratio < MAXSCORE_MIN_DF_RATIO) must take the
    exact path with no extra job — the r2 finding that symmetric
    queries cannot pay."""
    eng = zipf_engine
    terms = _terms_by_df(eng)
    t1, df1 = terms[0]
    t2, df2 = terms[1]
    if df1 >= eng.MAXSCORE_MIN_DF_RATIO * df2:
        pytest.skip("top-2 terms unexpectedly asymmetric")
    meta = eng._term_meta([t1, t2])
    assert count_jobs(lambda: eng._prune_plan({"q": [t1, t2]}, meta, 10)
                      ) == 0
    assert (count_jobs(lambda: _topk(eng, [t1, t2], 10, True))
            == count_jobs(lambda: _topk(eng, [t1, t2], 10, False)))
    assert _topk(eng, [t1, t2], 10, True) == _topk(eng, [t1, t2], 10, False)


def test_maxscore_handles_k_exceeding_candidates(zipf_engine):
    """k larger than the rare term's df: either a valid split with the
    full candidate set or a clean fallback — results must equal exact."""
    eng = zipf_engine
    (rare, rare_df), (head, _) = _rare_and_head(eng)
    k = min(rare_df + 50, 300)
    assert _topk(eng, [rare, head], k, True) == \
        _topk(eng, [rare, head], k, False)


def test_maxscore_paths_leak_no_resources(clustered_engine, spark,
                                          broadcast_log):
    """Public callers get no release handle, so the pruned single and
    batch paths must persist nothing and release their candidate
    broadcast before returning (r3 ADVICE: long-lived engines
    accumulated one block-manager entry per rare+head query)."""
    eng = clustered_engine
    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert len(eng.bm25_topk(["rareterm", "headterm"], k=10).collect()) > 0
    assert eng.bm25_topk_batch({"q": ["rareterm", "headterm"]},
                               k=10).count() > 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base
    made, released = broadcast_log["made"], broadcast_log["released"]
    assert len(made) == 2
    assert {id(b) for b in released} == {id(b) for b in made}


@pytest.mark.parametrize("batch", [False, True], ids=["single", "batch"])
def test_pruned_path_releases_broadcast_on_error(clustered_engine,
                                                 broadcast_log, batch):
    """ROADMAP: broadcasts are released on every error path. The final
    collect fails while the candidate broadcast is held; the broadcast
    must still be unpersisted."""
    eng = clustered_engine
    rh = ["rareterm", "headterm"]
    broadcast_log["fail_collect"]()
    with pytest.raises(RuntimeError, match="injected collect failure"):
        if batch:
            eng.bm25_topk_batch({"q": rh}, k=10)
        else:
            eng.bm25_topk(rh, k=10)
    made, released = broadcast_log["made"], broadcast_log["released"]
    assert len(made) == 1
    assert {id(b) for b in released} == {id(b) for b in made}


def test_per_term_block_stats_semantics(clustered_engine, spark):
    """The two-stage partial top-k must reproduce the old window
    semantics exactly: mw = max, nb = count, ms = max salt, kth = k-th
    largest block_max_w (min of all when a term has < k blocks), plus
    the r7 ride-along doc-id span lo = min first / hi = max last."""
    eng = clustered_engine
    rows = [
        # term a: 5 blocks across salts, known weights + doc spans
        ("a", 0, 0, 9.0, 0, 10), ("a", 0, 1, 7.0, 11, 20),
        ("a", 1, 0, 8.0, 2, 15), ("a", 1, 1, 3.0, 16, 30),
        ("a", 2, 0, 5.0, 5, 25),
        # term b: fewer blocks than k
        ("b", 0, 0, 2.0, 100, 110), ("b", 0, 1, 4.0, 111, 120),
        # term c: one block
        ("c", 0, 0, 1.5, 7, 7),
    ]
    blocks = spark.createDataFrame(
        rows, "term string, salt int, block_seq int, block_max_w double,"
        " first_doc_id long, last_doc_id long"
    ).repartition(5)  # spread rows over partitions: the two-stage merge
    spans = {"a": (0, 30), "b": (100, 120), "c": (7, 7)}
    for k, want in [
        (3, {"a": (9.0, 5, 2, 7.0), "b": (4.0, 2, 0, 2.0),
             "c": (1.5, 1, 0, 1.5)}),
        (1, {"a": (9.0, 5, 2, 9.0), "b": (4.0, 2, 0, 4.0),
             "c": (1.5, 1, 0, 1.5)}),
        (99, {"a": (9.0, 5, 2, 3.0), "b": (4.0, 2, 0, 2.0),
              "c": (1.5, 1, 0, 1.5)}),
    ]:
        out = eng._per_term_block_stats(blocks, k).collect()
        got = {r["term"]: (r["mw"], r["nb"], r["ms"], r["kth"])
               for r in out}
        assert got == want, (k, got, want)
        assert {r["term"]: (r["lo"], r["hi"]) for r in out} == spans, k
