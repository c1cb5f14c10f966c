"""Distributed engine vs oracle (and thus vs the reference goldens).

The north rule's verification shape: rank-identical doc ids AND BM25
scores (abs tol 1e-9) between the Spark engine and the single-node
oracle, which tests/test_oracle_golden.py anchors to the reference's own
test outputs."""

import pytest

from konlspark.catalog import IndexCatalog, Snapshot
from konlspark.query import ComplexRequest, SearchEngine, SearchRequest


def ids(df):
    return [r["doc_id"] for r in df.collect()]


@pytest.fixture(scope="module")
def eng(spark, title_index):
    root, _ = title_index
    return SearchEngine(spark, root)


@pytest.fixture(scope="module")
def zeng(spark, zipf_index):
    root, _ = zipf_index
    return SearchEngine(spark, root)


@pytest.fixture(scope="module")
def zeng_pruned(spark, zipf_index):
    """``zeng`` with the pruning gate open: no fixture df reaches it.
    Pinned to the Spark tier, whose plans the pruning serves."""
    eng = SearchEngine(spark, zipf_index[0])
    eng.MAXSCORE_MIN_NE_POSTINGS = 0
    eng.LOCAL_MAX_POSTINGS = 0
    return eng


# -- reference golden parity (title corpus) ---------------------------------

def test_engine_golden_or(eng):
    assert ids(eng.search(["같은", "비스크"], "or", log=False)) == [10, 18, 81]
    assert ids(eng.search(["특별", "마법소녀"], "or", log=False)) == [9, 49, 97]


def test_engine_golden_and(eng):
    assert ids(eng.search(["마법", "특별"], "and", log=False)) == [9]


def test_engine_golden_phrase(eng):
    assert ids(eng.search(["마법", "특별"], "phrase", log=False)) == [9]
    assert ids(eng.search(["특별", "마법"], "phrase", log=False)) == []


def test_engine_golden_complex(eng):
    req = ComplexRequest(
        SearchRequest(["같은", "비스크"], "or"),
        ComplexRequest(
            SearchRequest(["거신병", "경비실"], "or"),
            SearchRequest(["마법", "특별"], "phrase"),
            "or",
        ),
        "or",
    )
    assert ids(eng.search_complex(req)) == [1, 3, 9, 10, 18, 81]


def test_engine_golden_suggestions(eng):
    assert eng.search_suggestions("특") == ["특급", "특별", "특별해야"]


def test_engine_point_range_multi(eng):
    assert eng.get(10).collect()[0]["text"] == "그 비스크 돌은 사랑을 한다"
    assert ids(eng.get_range(10, 20)) == list(range(10, 20))
    assert ids(eng.get_multi([10, 15, 20, 1000])) == [10, 15, 20]


def test_engine_bm25_matches_oracle_on_titles(eng, title_oracle):
    for q in [["마법", "특별"], ["같은", "비스크"], ["특별", "마법소녀"],
              ["건담"], ["사랑"]]:
        got = [(r["doc_id"], r["score"]) for r in
               eng.bm25_topk(q, k=10, use_wand=False).collect()]
        want = title_oracle.bm25_topk(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert abs(a - b) < 1e-9, q


# -- invariants (north rule / FIXTURES §1) -----------------------------------

def test_per_turn_text_equality_roundtrip(spark, title_index):
    """Per-turn text equality preserved under stable (conv_id, turn_idx)
    ordering after the round-trip through the engine's docs table."""
    from konlspark.corpus import make_title_transcripts
    root, _ = title_index
    docs = spark.read.parquet(f"{root}/docs")
    got = [(r["conv_id"], r["turn_idx"], r["text"]) for r in
           docs.orderBy("conv_id", "turn_idx").select(
               "conv_id", "turn_idx", "text").collect()]
    src = make_title_transcripts().sort_values(["conv_id", "turn_idx"])
    want = list(zip(src["conv_id"], src["turn_idx"], src["text"]))
    assert got == want


def test_doc_ids_dense_and_order_stable(spark, title_index):
    root, _ = title_index
    docs = spark.read.parquet(f"{root}/docs")
    rows = docs.orderBy("conv_id", "turn_idx").select("doc_id").collect()
    assert [r["doc_id"] for r in rows] == list(range(1, 133))


@pytest.mark.parametrize("n_rows,start_id", [(5, 1), (0, 1), (300, 10)],
                         ids=["fewer-rows-than-partitions", "empty",
                              "start-id-10"])
def test_rank_without_dedup_keys_equals_row_number(spark, n_rows, start_id):
    """``build.rank`` with no dedup keys — the path of the contract's b1
    and the query log — numbers rows exactly as a ``row_number()`` over
    the order key, offset to ``start_id``, and releases what it held."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from konlspark import build
    # 7919 is prime to 1000: distinct keys in shuffled order
    df = spark.createDataFrame(
        [(f"k{i * 7919 % 1000:04d}", i) for i in range(n_rows)],
        "key string, v int")
    want = sorted(
        (r["v"], r["id"]) for r in df.select(
            "v", (F.row_number().over(Window.orderBy("key"))
                  + start_id - 1).alias("id")).collect())
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    ranked = build.rank(df, ("key",), start_id=start_id)
    try:
        got = sorted((r["v"], r["doc_id"]) for r in ranked.df.collect())
    finally:
        ranked.release()
    assert (ranked.n_rows, ranked.n_dropped) == (n_rows, 0)
    assert got == want
    assert jsc.getPersistentRDDs().size() == persisted


# -- zipf corpus: dedup, skew, full parity ------------------------------------

def test_zipf_dedup_matches_oracle(spark, zipf_index, zipf_oracle, zipf_corpus):
    root, _ = zipf_index
    docs = spark.read.parquet(f"{root}/docs")
    conflicts = Snapshot(spark, IndexCatalog(root)).read("conflicts")
    assert docs.count() == len(zipf_oracle.docs)
    n_conflicts = len(zipf_corpus) - len(zipf_oracle.docs)
    assert conflicts.count() == n_conflicts
    assert n_conflicts > 0  # fixture injects duplicates
    # engine doc texts in id order == oracle insert order
    got = [r["text"] for r in
           docs.orderBy("doc_id").select("text").collect()]
    want = [zipf_oracle.docs[i].text for i in sorted(zipf_oracle.docs)]
    assert got == want


def test_zipf_salting_kicked_in(spark, zipf_index):
    """Head terms must actually split (target_per_split=200 in fixture)."""
    from pyspark.sql import functions as F
    root, _ = zipf_index
    postings = spark.read.parquet(f"{root}/postings")
    max_salt = postings.agg(F.max("salt")).collect()[0][0]
    assert max_salt >= 1
    # every (term, salt) group stays near the target
    grp = (postings.groupBy("term", "salt").agg(F.sum("n").alias("p"))
           .agg(F.max("p")).collect()[0][0])
    assert grp <= 200 + 64  # target + one block of slack


def test_zipf_boolean_parity(zeng, zipf_oracle):
    queries = [
        (["마법", "특별"], "or"), (["마법", "특별"], "and"),
        (["spark", "query"], "and"), (["spark", "query"], "or"),
        (["검색", "색인", "질의"], "or"), (["검색", "색인", "질의"], "and"),
        (["마법", "spark"], "and"), (["없는단어쿼리"], "or"),
        (["마법", "특별"], "phrase"), (["특별", "마법"], "phrase"),
        (["spark", "query"], "phrase"),
    ]
    for tokens, mode in queries:
        got = ids(zeng.search(tokens, mode, log=False))
        want = zipf_oracle.search(tokens, mode, log=False)
        assert got == want, (tokens, mode)


def test_zipf_bm25_parity_and_wand_lossless(zeng, zeng_pruned, zipf_oracle):
    queries = [["마법", "특별"], ["spark", "query", "index"],
               ["검색", "색인"], ["마법", "spark", "token"],
               ["모래", "바다", "하늘"], ["마법소녀"]]
    for q in queries:
        exact = [(r["doc_id"], r["score"]) for r in
                 zeng.bm25_topk(q, k=10, use_wand=False).collect()]
        wand = [(r["doc_id"], r["score"]) for r in
                zeng_pruned.bm25_topk(q, k=10).collect()]
        want = zipf_oracle.bm25_topk(q, k=10)
        assert [d for d, _ in exact] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(exact, want):
            assert abs(a - b) < 1e-9, q
        assert [d for d, _ in wand] == [d for d, _ in exact], q
        for (_, a), (_, b) in zip(wand, exact):
            assert abs(a - b) < 1e-12, q


def test_phrase_contiguous_extension(zeng, zipf_corpus):
    """Contiguous phrase (extension): engine result == brute-force
    adjacency over the tokenizer's ordered stream of the deduped corpus."""
    from konlspark import tokenizer as tk
    q = ["마법", "특별"]
    qo = tk.tokenize_with_order(" ".join(q))
    ordered = zipf_corpus.sort_values(["conv_id", "turn_idx"])
    seen, want = set(), []
    doc_id = 0
    for text in ordered["text"]:
        if text in seen:
            continue
        seen.add(text)
        doc_id += 1
        toks = tk.tokenize_with_order(text)
        m = len(qo)
        if any(toks[i:i + m] == qo for i in range(len(toks) - m + 1)):
            want.append(doc_id)
    got = ids(zeng.search_phrase_contiguous(q))
    assert got == want
    # contiguous ⊆ ordered-first-occurrence candidates’ AND set
    assert set(got) <= set(ids(zeng.search(q, "and", log=False)))


def test_read_only_engine(spark, title_index):
    """S1 read-only open mode (reference search.py:16-26): reads work,
    every mutating surface raises."""
    from konlspark.query import ReadOnlyIndexError
    root, _ = title_index
    ro = SearchEngine(spark, root, access="ro")
    assert ids(ro.search(["마법", "특별"], "and", log=False)) == [9]
    with pytest.raises(ReadOnlyIndexError):
        ro.search(["마법"], "or")  # log=True path writes the query log
    with pytest.raises(ReadOnlyIndexError):
        ro.aggregate_frequency()
    with pytest.raises(ValueError):
        SearchEngine(spark, root, access="bogus")


def test_wand_prune_actually_prunes(zeng_pruned):
    """The planner's block floor must DROP blocks for a head single-term
    query (k-th block max bound) and stay lossless — guards against a
    gate regression making the lossless test vacuous."""
    eng = zeng_pruned
    term = "마법"
    meta = eng._term_meta([term])
    assert meta[term]["df"] >= 64 * 10, "fixture head term too small"
    keep, cand = eng._prune_plan({"q": [term]}, meta, 10)
    assert cand == {}  # a lone term needs no candidates
    blocks = eng._blocks_for(meta)
    n_all, n_kept = blocks.count(), blocks.filter(keep).count()
    assert n_kept < n_all  # pruning fired
    exact = [(r["doc_id"], round(r["score"], 9)) for r in
             eng.bm25_topk([term], k=10, use_wand=False).collect()]
    wand = [(r["doc_id"], round(r["score"], 9)) for r in
            eng.bm25_topk([term], k=10).collect()]
    assert wand == exact


def test_zipf_bm25_and_mode(zeng, zipf_oracle):
    q = ["마법", "특별"]
    got = [(r["doc_id"], r["score"]) for r in
           zeng.bm25_topk(q, k=10, mode="and").collect()]
    want = zipf_oracle.bm25_topk(q, k=10, mode="and")
    assert [d for d, _ in got] == [d for d, _ in want]


# -- query log + frequency aggregation ----------------------------------------

def test_query_log_and_frequency(spark, tmp_root, title_oracle):
    """Q8/Q9: logged searches aggregate incrementally into per-prefix
    top-k, matching the reference frequency golden."""
    from konlspark import build, corpus
    root = f"{tmp_root}/freq_index"
    tdf = corpus.spark_transcripts(spark, corpus.make_title_transcripts())
    build.build_index(spark, tdf, root)
    eng = SearchEngine(spark, root)
    eng.search(["같은", "비스크"], "or")
    for _ in range(6):
        eng.search(["특별", "마법소녀"], "or")
    eng.search(["마법", "모래"], "or")
    eng.aggregate_frequency()
    assert eng.search_by_frequency("ㅁ") == [("마법소녀", 6), ("마법", 1), ("모래", 1)]
    # incremental: another search then re-aggregate adds only the delta
    eng.search(["마법"], "or")
    eng.aggregate_frequency()
    assert eng.search_by_frequency("ㅁ") == [("마법소녀", 6), ("마법", 2), ("모래", 1)]


def test_batch_search_parity(zeng):
    """search_batch: per-query rows identical to the single-query path
    for every query in a mixed batch (shared terms, unknown terms,
    single-term, duplicate tokens) in both modes."""
    batch = {
        "qa": ["마법", "특별"],
        "qb": ["spark", "query"],
        "qc": ["검색", "색인", "질의"],
        "qd": ["없는단어쿼리"],          # unknown term
        "qe": ["마법", "없는단어쿼리"],   # known + unknown
        "qf": ["마법", "마법", "특별"],   # duplicate token
        "qg": ["spark"],
    }
    for mode in ("or", "and"):
        got = {}
        for r in zeng.search_batch(batch, mode=mode).collect():
            got.setdefault(r["query_id"], []).append(r["doc_id"])
        for qid, tokens in batch.items():
            want = ids(zeng.search(tokens, mode, log=False))
            assert got.get(qid, []) == want, (qid, mode)


def test_batch_bm25_parity(zeng):
    """bm25_topk_batch: per-query (doc_id, score) identical to the
    single-query exact path — same docs, same order, scores to 1e-9."""
    batch = {
        "qa": ["마법", "특별"],
        "qb": ["spark", "query", "index"],
        "qc": ["검색", "색인"],
        "qd": ["마법", "spark", "token"],
        "qe": ["없는단어쿼리"],
        "qf": ["마법소녀"],
    }
    for mode in ("or", "and"):
        for k in (3, 10):
            got = {}
            for r in (zeng.bm25_topk_batch(batch, k=k, mode=mode)
                      .collect()):
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"]))
            for qid, tokens in batch.items():
                want = [(r["doc_id"], r["score"]) for r in
                        zeng.bm25_topk(tokens, k=k, mode=mode,
                                       use_wand=False).collect()]
                gq = got.get(qid, [])
                assert [d for d, _ in gq] == [d for d, _ in want], \
                    (qid, mode, k)
                for (_, a), (_, b) in zip(gq, want):
                    assert abs(a - b) < 1e-9, (qid, mode, k)


def test_batch_bm25_empty_and_k0(zeng):
    assert zeng.bm25_topk_batch({}, k=10).count() == 0
    assert zeng.bm25_topk_batch({"q": ["마법"]}, k=0).count() == 0
    assert zeng.search_batch({"q": ["없는단어쿼리"]}, "and").count() == 0


@pytest.mark.parametrize("tokens", [["마법", "특별"], ["같은", "비스크", "마법"],
                                    ["마법", "없는말"]])
def test_batch_of_one_runs_the_single_plan(eng, count_jobs, tokens,
                                           monkeypatch):
    """A one-query batch returns the single call's rows with query_id
    added, and launches the single call's jobs (no qmap join, no
    two-stage top-k). Pinned to the Spark tier, whose plans these are."""
    monkeypatch.setattr(eng, "LOCAL_MAX_POSTINGS", 0)

    def run(make):
        rows = []
        n = count_jobs(lambda: rows.extend(map(tuple, make().collect())))
        return n, rows

    cases = [(lambda m=m: eng.search(tokens, m, log=False),
              lambda m=m: eng.search_batch({"q": tokens}, m))
             for m in ("or", "and")]
    cases += [(lambda m=m, k=k: eng.bm25_topk(tokens, k=k, mode=m),
               lambda m=m, k=k: eng.bm25_topk_batch({"q": tokens}, k=k,
                                                    mode=m))
              for m in ("or", "and") for k in (0, 3, 10)]
    for single, batch in cases:
        (n1, rows1), (nb, rowsb) = run(single), run(batch)
        assert rowsb == [("q",) + r for r in rows1]
        assert nb == n1


_MODE_Q = ["는", "은"]


@pytest.mark.parametrize("surface", ["search", "search_batch", "bm25_topk",
                                     "bm25_topk_batch", "search_complex"])
def test_mode_any_case_and_unknown_rejected(eng, surface):
    """Every surface reads or/and in any case, and raises on any other
    mode instead of silently running a different one."""
    q = _MODE_Q
    run = {
        "search": lambda m: ids(eng.search(q, m, log=False)),
        "search_batch": lambda m: ids(eng.search_batch({"q": q}, m)),
        "bm25_topk": lambda m: ids(eng.bm25_topk(q, k=50, mode=m)),
        "bm25_topk_batch": lambda m: ids(eng.bm25_topk_batch(
            {"q": q}, k=50, mode=m)),
        "search_complex": lambda m: ids(eng.search_complex(ComplexRequest(
            SearchRequest(q[:1], "or"), SearchRequest(q[1:], "or"), m),
            log=False)),
    }[surface]
    assert run("AND") == run("and") != run("Or") == run("or")
    bad = ["xor"] + (["phrase"] if surface != "search" else [])
    for mode in bad:
        with pytest.raises(ValueError, match="mode"):
            run(mode)
    if surface == "search":
        assert run("PHRASE") == run("phrase")


def test_lean_decode_matches_full_decode(zeng):
    """Every projection of the one `_decode` equals the same columns of
    its full (term, doc_id, tf, score) output. Boolean search reads the
    doc_id projection alone, and the AND count relies on one row per
    (term, doc_id) in all of them."""
    from konlspark.oracle import bm25_idf
    meta = zeng._term_meta([t for t in zeng.token_dict.select("term")
                            .orderBy("term").limit(3).toPandas()["term"]])
    idf = {t: bm25_idf(zeng.n_docs, m["df"]) for t, m in meta.items()}
    blocks = zeng._blocks_for(meta)
    full = zeng._decode(blocks, idf).collect()
    assert len(full) > 0
    for cols in (("doc_id",), ("term", "doc_id"), ("doc_id", "tf"),
                 ("doc_id", "score"), ("term", "doc_id", "score")):
        got = sorted(tuple(r) for r in
                     zeng._decode(blocks, idf, cols=cols).collect())
        assert got == sorted(tuple(r[c] for c in cols) for r in full), cols


# -- driver-side term dictionary (no job per lookup) -------------------------

def _token_dict_rows(eng):
    return {r["term"]: (r["df"], r["term_bucket"]) for r in
            eng.token_dict.select("term", "df", "term_bucket").collect()}


def test_term_lookups_launch_no_jobs(eng, count_jobs):
    assert count_jobs(lambda: eng._term_meta(["마법", "특별", "없는말"])) == 0
    assert count_jobs(lambda: "마법" in eng) == 0
    assert count_jobs(lambda: eng.search_suggestions("특")) == 0


def test_term_dict_matches_token_dict(eng):
    rows = _token_dict_rows(eng)
    meta = eng._term_meta(list(rows) + ["없는말"])
    assert {t: (m["df"], m["bucket"]) for t, m in meta.items()} == rows


def test_suggestions_match_token_dict_plan(eng):
    """The driver's bisect equals the Spark prefix plan, order included
    (code-point order vs Spark's UTF-8 ``orderBy("term")``). The plan
    runs for the empty prefix, a jamo, ASCII and no match; every
    leading syllable is checked against the plan's filter over one
    Spark-ordered collect."""
    from konlspark import tokenizer as tk
    rows = (eng.token_dict.select("term", "decomposed").orderBy("term")
            .collect())
    ascii_term = next(r["term"] for r in rows if r["term"].isascii())
    for p in ["", "ㅌ", ascii_term[:2], "qqq없음"]:
        want = [r["term"] for r in eng.search_suggestions_df(p).collect()]
        assert eng.search_suggestions(p) == want, p
    assert eng.search_suggestions("") == [r["term"] for r in rows]
    assert eng.search_suggestions("qqq없음") == []
    for p in sorted({r["term"][0] for r in rows}):
        dp = tk.decompose(p)
        assert eng.search_suggestions(p) == [
            r["term"] for r in rows if r["decomposed"].startswith(dp)], p
