"""Incremental ingest: batch append (B6), tombstone delete (B5),
compaction — pinned to the reference's WriteBatch/delete semantics
(test_konlsearch.py:273-305, 345-368)."""

import collections
import shutil

import pandas as pd
import pytest

from konlspark import build, corpus, ingest
from konlspark.catalog import IndexCatalog, Snapshot
from konlspark.fixtures.titles import TITLES
from konlspark.oracle import OracleIndex
from konlspark.query import SearchEngine


@pytest.fixture(scope="session")
def _title_build(spark, tmp_root):
    """The 132 titles built once; tests only ever see copies of it."""
    root = f"{tmp_root}/ingest_title_build"
    tdf = corpus.spark_transcripts(spark, corpus.make_title_transcripts())
    build.build_index(spark, tdf, root)
    return root


@pytest.fixture()
def fresh_index(_title_build, tmp_path):
    """A private copy of the title index at a path no earlier Spark read
    has listed."""
    root = str(tmp_path / "idx")
    shutil.copytree(_title_build, root)
    return root


def _snap(spark, root):
    return Snapshot(spark, IndexCatalog(root))


def _batch_df(spark, texts, conv="conv-zzz"):
    import datetime
    pdf = pd.DataFrame({
        "conv_id": [conv] * len(texts),
        "turn_idx": pd.array(range(len(texts)), dtype="int32"),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [""] * len(texts),
        "ts": [datetime.datetime(2026, 2, 1, tzinfo=datetime.timezone.utc)
               + datetime.timedelta(seconds=i) for i in range(len(texts))],
    })
    return corpus.spark_transcripts(spark, pdf)


def test_append_batch_ids_and_search(spark, fresh_index):
    # reference test_index_writebatch2: 3 new docs → len 132+3, ids advance
    root = fresh_index
    res = ingest.append_batch(spark, root, _batch_df(
        spark, ["기동전사 건담", "기동전사 건담 SEED",
                "기동전사 건담 SEED DESTINY"]))
    assert res == {"indexed": 3, "conflicts": 0, "first_doc_id": 133}
    eng = SearchEngine(spark, root)
    assert eng.n_docs == 135
    got = [r["doc_id"] for r in eng.search(["건담"], "or", log=False).collect()]
    assert got == [133, 134, 135]
    # AND across old+new corpus still works
    got = [r["doc_id"] for r in
           eng.search(["건담", "SEED"], "and", log=False).collect()]
    assert got == [134, 135]


def test_append_dedup_in_batch_and_vs_existing(spark, fresh_index):
    root = fresh_index
    res = ingest.append_batch(spark, root, _batch_df(
        spark, [TITLES[9], "완전히 새로운 문서", "완전히 새로운 문서"]))
    # TITLES[9] collides with live doc 10; duplicate text collides in-batch
    assert res["indexed"] == 1 and res["conflicts"] == 2
    eng = SearchEngine(spark, root)
    assert eng.n_docs == 133
    conflicts = _snap(spark, root).read("conflicts").collect()
    by_turn = {(r["conv_id"], r["turn_idx"]): r["conflict_doc_id"]
               for r in conflicts}
    assert by_turn[("conv-zzz", 0)] == 10     # winner is the live doc
    assert by_turn[("conv-zzz", 2)] == 133    # in-batch winner


def test_postings_for_matches_oracle_and_drops_tombstoned(spark,
                                                         fresh_index):
    """Q1: one term's postings as ascending (doc_id, tf) equal to the
    oracle's, before and after a delete tombstones one of them."""
    root = fresh_index
    ix = OracleIndex()
    ix.index_all(TITLES)

    def want(term):
        return [(d, ix.docs[d].tfs[ix.docs[d].tokens.index(term)])
                for d in sorted(ix.postings[term])]

    def got(eng, term):
        return [(r["doc_id"], r["tf"]) for r in
                eng.postings_for(term).collect()]

    eng = SearchEngine(spark, root)
    assert got(eng, "에서") == want("에서")
    assert (113, 2) in want("에서")
    assert ingest.delete_docs(spark, root, [113]) == {"deleted": 1}
    ix.delete(113)
    eng.refresh()
    assert 113 not in [d for d, _ in got(eng, "에서")]
    assert got(eng, "에서") == want("에서")


def test_delete_then_reindex_advances_id(spark, fresh_index):
    # reference test_index_hash: delete 100 → re-index gets id 133
    root = fresh_index
    eng = SearchEngine(spark, root)
    doc100 = eng.get(100).collect()[0]["text"]
    assert ingest.delete_docs(spark, root, [100]) == {"deleted": 1}
    eng.refresh()
    assert eng.n_docs == 131
    assert eng.get(100).collect() == []
    res = ingest.append_batch(spark, root, _batch_df(spark, [doc100]))
    assert res == {"indexed": 1, "conflicts": 0, "first_doc_id": 133}


def test_delete_removes_from_search_and_compact_restores_parity(
        spark, fresh_index):
    root = fresh_index
    # reference test_inverted_index_delete: 다이아몬드 → {38}
    eng = SearchEngine(spark, root)
    assert [r["doc_id"] for r in
            eng.search(["다이아몬드"], "or", log=False).collect()] == [38]
    ingest.delete_docs(spark, root, [38, 10])
    eng.refresh()
    assert eng.search(["다이아몬드"], "or", log=False).collect() == []
    assert not eng.wand_safe  # stale block-max metadata → WAND off
    ora = OracleIndex()
    ora.index_all(TITLES)
    ora.delete(38)
    ora.delete(10)
    # dead term gone from EVERY token_dict surface immediately after the
    # delete (it commits the live token_dict — reference drops a trie
    # token the moment its last posting dies, inverted_index.py:89-95):
    # suggestions, membership, and df-driven idf are exact BEFORE
    # compaction
    assert "다이아몬드" not in eng.search_suggestions("다")
    assert "다이아몬드" not in eng

    def assert_bm25_parity():
        for q in (["같은", "비스크"], ["마법", "특별"]):
            got = [(r["doc_id"], r["score"]) for r in
                   eng.bm25_topk(q, k=10, use_wand=False).collect()]
            want = ora.bm25_topk(q, k=10)
            assert [d for d, _ in got] == [d for d, _ in want], q
            for (_, a), (_, b) in zip(got, want):
                assert abs(a - b) < 1e-9

    assert_bm25_parity()  # pre-compaction: idf/avgdl already exact
    ingest.compact(spark, root)
    eng.refresh()
    assert eng.wand_safe
    # still gone after compaction (token_dict rebuilt from live docs)
    assert "다이아몬드" not in eng.search_suggestions("다")
    assert_bm25_parity()


def test_append_is_invisible_without_commit(spark, fresh_index, monkeypatch):
    """Rollback semantics: a crash before the manifest swap leaves the
    snapshot unchanged (WriteBatch rollback, index.py:261-263)."""
    root = fresh_index
    from konlspark.catalog import IndexCatalog
    boom = RuntimeError("crash before commit")

    def exploding_commit(self, manifest):
        raise boom
    monkeypatch.setattr(IndexCatalog, "commit_manifest", exploding_commit)
    with pytest.raises(RuntimeError):
        ingest.append_batch(spark, root, _batch_df(spark, ["새문서 하나"]))
    monkeypatch.undo()
    eng = SearchEngine(spark, root)
    assert eng.n_docs == 132
    assert eng.search(["새문서"], "or", log=False).collect() == []


def _exploding_commit(self, manifest):
    raise RuntimeError("crash before commit")


@pytest.mark.parametrize("texts", [[TITLES[9], "완전히 새로운 문서"],
                                   [TITLES[9]]],
                         ids=["append", "all-duplicate-append"])
def test_crashed_append_leaves_no_conflict_row(spark, fresh_index,
                                               monkeypatch, texts):
    """Conflict rows are a manifest part: a crash before the commit
    leaves none visible, and the retried append reports each once."""
    root = fresh_index
    before = _snap(spark, root).read("conflicts").count()
    monkeypatch.setattr(IndexCatalog, "commit_manifest", _exploding_commit)
    with pytest.raises(RuntimeError, match="crash before commit"):
        ingest.append_batch(spark, root, _batch_df(spark, texts))
    monkeypatch.undo()
    assert _snap(spark, root).read("conflicts").count() == before
    assert ingest.append_batch(
        spark, root, _batch_df(spark, texts))["conflicts"] == 1
    rows = _snap(spark, root).read("conflicts").collect()
    assert len(rows) == before + 1
    assert [r["conflict_doc_id"] for r in rows
            if r["conv_id"] == "conv-zzz"] == [10]


def test_delete_commits_the_live_token_dict(spark, fresh_index):
    """The token_dict a delete commits, read through the snapshot (not
    the engine), holds every live term at its live df and no dead term;
    an append after the delete adds to that exact df."""
    root = fresh_index
    ora = OracleIndex()
    ora.index_all(TITLES)

    def committed():
        return {r["term"]: r["df"] for r in
                _snap(spark, root).read("token_dict").collect()}

    ingest.delete_docs(spark, root, [38, 10])
    ora.delete(38)
    ora.delete(10)
    got = committed()
    assert "다이아몬드" not in got
    assert got == {t: len(ids) for t, ids in ora.postings.items()}
    texts = ["다이아몬드 기동전사 건담", TITLES[20]]  # a dead term back
    ingest.append_batch(spark, root, _batch_df(spark, texts))
    ora.index_all(texts)
    assert committed() == {t: len(ids) for t, ids in ora.postings.items()}


def test_mutated_token_dict_equals_a_fresh_build(spark, fresh_index,
                                                  tmp_path):
    """An append decomposes only its new terms and a delete carries the
    stored rows through: after append → delete, and again after compact,
    the committed token_dict rows (term, df, decomposed, term_bucket)
    equal a fresh build's over the live texts."""
    root = fresh_index
    # doc 133 adds terms, TITLES[5] is a conflict, doc 134 is deleted
    texts = ["완전히 새로운 낱말 조합 qwertyuiop", TITLES[5], "기동전사 zxcvb"]
    ingest.append_batch(spark, root, _batch_df(spark, texts))
    ingest.delete_docs(spark, root, [38, 10, 134])

    def rows(r):
        return sorted(tuple(x) for x in _snap(spark, r).read("token_dict")
                      .select("term", "df", "decomposed", "term_bucket")
                      .collect())

    live = [t for i, t in enumerate(TITLES, 1) if i not in (38, 10)]
    fresh = str(tmp_path / "fresh")
    build.build_index(spark, _batch_df(spark, live + texts[:1]), fresh)
    want = rows(fresh)
    assert ("qwertyuiop", 1) in {x[:2] for x in want}
    assert "zxcvb" not in {x[0] for x in want}
    assert rows(root) == want
    ingest.compact(spark, root)
    assert rows(root) == want


def test_frequency_survives_append_and_compact(spark, fresh_index):
    """log → aggregate_frequency → append_batch → compact keeps
    search_by_frequency unchanged (each commit keeps token_freq and
    freq_offset), and a read-only engine still cannot aggregate."""
    from konlspark.query import ReadOnlyIndexError
    root = fresh_index
    eng = SearchEngine(spark, root)
    for q in (["마법", "특별"], ["마법"], ["마왕"]):
        eng.search(q, "or")
    eng.aggregate_frequency()
    want = eng.search_by_frequency("마", k=5)
    assert want and want[0] == ("마법", 2)
    ingest.append_batch(spark, root, _batch_df(spark, ["마법 기동전사"]))
    eng.refresh()
    assert eng.search_by_frequency("마", k=5) == want
    ingest.compact(spark, root)
    eng.refresh()
    eng.aggregate_frequency()  # nothing new past freq_offset
    assert eng.search_by_frequency("마", k=5) == want
    eng.search(["마법"], "or")
    manifest = eng.cat.read_manifest()
    with pytest.raises(ReadOnlyIndexError):
        SearchEngine(spark, root, access="ro").aggregate_frequency()
    assert eng.cat.read_manifest() == manifest


def test_term_dict_follows_append_delete_refresh(spark, fresh_index):
    """The driver dictionary is the mutated snapshot's token_dict: new
    terms in, the delete's df changes applied, a dead term gone."""
    root = fresh_index
    eng = SearchEngine(spark, root)
    doc38 = set(eng.get_tokens(38))  # holds 다이아몬드's only posting
    before = eng._term_meta(doc38)
    ingest.append_batch(spark, root, _batch_df(spark, ["기동전사 건담"]))
    ingest.delete_docs(spark, root, [38])
    eng.refresh()
    rows = {r["term"]: (r["df"], r["term_bucket"]) for r in
            eng.token_dict.select("term", "df", "term_bucket").collect()}
    meta = eng._term_meta(list(rows) + sorted(doc38))
    assert {t: (m["df"], m["bucket"]) for t, m in meta.items()} == rows
    assert "건담" in meta and "다이아몬드" not in meta
    for t in doc38:
        assert meta.get(t, {"df": 0})["df"] == before[t]["df"] - 1, t


def test_refresh_releases_replaced_token_dict_cache(spark, fresh_index):
    root = fresh_index
    eng = SearchEngine(spark, root)
    eng.search_suggestions("다")
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    ingest.append_batch(spark, root, _batch_df(spark, ["기동전사 건담"]))
    eng.refresh()
    eng.search_suggestions("건")
    assert jsc.getPersistentRDDs().size() == persisted
    ingest.delete_docs(spark, root, [38])
    eng.refresh()
    eng.search_suggestions("다")
    assert jsc.getPersistentRDDs().size() == persisted


def test_delete_of_unassigned_id_spares_later_appends(spark, fresh_index):
    """Only live victims are tombstoned: an id that no document holds
    yet must not delete the document a later append assigns it to."""
    root = fresh_index
    assert ingest.delete_docs(spark, root, [10, 134]) == {"deleted": 1}
    res = ingest.append_batch(spark, root, _batch_df(
        spark, ["기동전사 건담", "기동전사 건담 SEED",
                "기동전사 건담 SEED DESTINY"]))
    assert res["first_doc_id"] == 133
    eng = SearchEngine(spark, root)

    def assert_all_live():
        got = [r["doc_id"] for r in
               eng.search(["건담"], "or", log=False).collect()]
        assert got == [133, 134, 135]
        assert eng.docs.count() == eng.n_docs == 134

    assert_all_live()
    ingest.compact(spark, root)
    eng.refresh()
    assert_all_live()


def _build(spark, root):
    tdf = corpus.spark_transcripts(spark, corpus.make_title_transcripts())
    build.build_index(spark, tdf, root + "_rebuilt")


def _append(spark, root):
    ingest.append_batch(spark, root, _batch_df(spark, ["기동전사 건담"]))


def _delete(spark, root):
    ingest.delete_docs(spark, root, [38])


@pytest.mark.parametrize("op, target", [
    (_build, "build_postings"),
    (_append, "build_postings"),
    (ingest.compact, "build_postings"),
    (_append, "commit_manifest"),
    (_delete, "commit_manifest"),
], ids=["build-postings", "append-postings", "compact-postings",
        "append-commit", "delete-commit"])
def test_failed_write_releases_intermediates(spark, fresh_index,
                                             broadcast_log, monkeypatch,
                                             op, target):
    """A write that raises part-way leaves no persisted DataFrame, no
    held broadcast and no build side thread behind."""
    import threading
    from konlspark.catalog import IndexCatalog

    def boom(*args, **kwargs):
        raise RuntimeError("injected write failure")
    monkeypatch.setattr(build if target == "build_postings"
                        else IndexCatalog, target, boom)
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected write failure"):
        op(spark, fresh_index)
    assert jsc.getPersistentRDDs().size() == persisted
    assert [t for t in threading.enumerate() if t not in threads] == []
    made, released = broadcast_log["made"], broadcast_log["released"]
    assert {id(b) for b in released} == {id(b) for b in made}


def _rows_df(spark, rows):
    import datetime
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return spark.createDataFrame(
        [(c, t, "user", x, "", ts) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")


def test_build_of_union_equals_build_then_append(spark, tmp_path):
    """build(A ∪ B) and build(A) + append(B) give the same index when B's
    keys sort after A's: same docs, conflicts, term df, postings and
    query results."""
    a = [("a0", i, t) for i, t in enumerate(TITLES[:40])]
    a += [("a1", 0, None), ("a1", 1, TITLES[2])]
    b = [
        ("b0", 0, TITLES[3]),               # a text A holds
        ("b0", 1, "새로운 문서 하나"),
        ("b1", 0, "새로운 문서 하나"),       # in-batch duplicate
        ("b0", 2, "같은 열쇠 첫째 문서"),
        ("b0", 2, "같은 열쇠 둘째 문서"),    # same key, different text
        ("b0", 3, "완전히 같은 행"),
        ("b0", 3, "완전히 같은 행"),         # fully identical rows
        ("b0", 4, None), ("b0", 4, None),   # identical null-text rows
        ("b0", 5, None),
        ("b1", 1, "같은 열쇠 첫째 문서"),
        ("b1", 1, "새로운 문서 하나"),       # two losers, one key
        ("b1", 2, TITLES[7]), ("b1", 2, "마법 소녀 특별 문서"),
    ]
    union_root, append_root = str(tmp_path / "union"), str(tmp_path / "ab")
    build.build_index(spark, _rows_df(spark, a + b), union_root)
    build.build_index(spark, _rows_df(spark, a), append_root)
    n_a = _snap(spark, append_root).read("conflicts").count()
    res = ingest.append_batch(spark, append_root, _rows_df(spark, b))
    assert res["indexed"] + res["conflicts"] == len(b)

    def snapshot(root):
        eng = SearchEngine(spark, root)
        conflicts = _snap(spark, root).read("conflicts").collect()
        return eng, {
            "docs": sorted((r["doc_id"], r["text"] or "") for r in
                           eng.docs.select("doc_id", "text").collect()),
            "conflicts": collections.Counter(
                (r["conv_id"], r["turn_idx"], r["conflict_doc_id"])
                for r in conflicts),
            "token_dict": sorted((r["term"], r["df"]) for r in
                                 eng.token_dict.select("term", "df")
                                 .collect()),
            "postings": sorted(tuple(r) for r in eng._decode(
                eng.postings, cols=("term", "doc_id", "tf")).collect()),
        }

    eng_u, want = snapshot(union_root)
    eng_a, got = snapshot(append_root)
    assert sum(got["conflicts"].values()) == n_a + res["conflicts"]
    for table in want:
        assert got[table] == want[table], table
    assert eng_a.n_docs == eng_u.n_docs
    assert abs(eng_a.avgdl - eng_u.avgdl) < 1e-12
    top = [t for t, _ in sorted(want["token_dict"], key=lambda r: -r[1])]
    for q in ([top[0]], top[:2], [top[1], top[3]], ["문서", "특별"]):
        for mode in ("or", "and"):
            assert ([r["doc_id"] for r in
                     eng_a.search(q, mode, log=False).collect()]
                    == [r["doc_id"] for r in
                        eng_u.search(q, mode, log=False).collect()]), q
        got_k = [(r["doc_id"], r["score"])
                 for r in eng_a.bm25_topk(q, k=10).collect()]
        want_k = [(r["doc_id"], r["score"])
                  for r in eng_u.bm25_topk(q, k=10).collect()]
        assert [d for d, _ in got_k] == [d for d, _ in want_k], q
        for (_, x), (_, y) in zip(got_k, want_k):
            assert abs(x - y) < 1e-9, q
