"""The two request tiers (``SearchEngine._request``): under the
``LOCAL_MAX_POSTINGS`` gate a request decodes on the driver and returns
an Arrow-built DataFrame that launches no job; above it the Spark plan
runs. Each tier is forced through the instance attribute and compared
with the oracle, before and after append → delete → compact; the query
log and the driver dictionary, now written and read with pyarrow, are
checked against what Spark writes and reads."""

import datetime
import shutil

import numpy as np
import pandas as pd
import pytest

from konlspark import corpus, ingest
from konlspark.catalog import IndexCatalog
from konlspark.fixtures.titles import TITLES
from konlspark.oracle import ComplexRequest, OracleIndex, SearchRequest
from konlspark.query import SearchEngine

UNKNOWN = "없는말"
BIG_K = 10_000  # above every match count of these corpora


def _batch_df(spark, texts):
    pdf = pd.DataFrame({
        "conv_id": ["conv-zzz"] * len(texts),
        "turn_idx": pd.array(range(len(texts)), dtype="int32"),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [""] * len(texts),
        "ts": [datetime.datetime(2026, 2, 1, tzinfo=datetime.timezone.utc)
               + datetime.timedelta(seconds=i) for i in range(len(texts))],
    })
    return corpus.spark_transcripts(spark, pdf)


def _cases(ix):
    """(name, engine call, oracle answer) for every request surface,
    with unknown and duplicate terms, k=0 and k above the match count."""
    by_df = sorted(ix.postings, key=lambda t: (-len(ix.postings[t]), t))
    head, head2, mid = by_df[0], by_df[1], by_df[len(by_df) // 10]
    rare = next(t for t in reversed(by_df) if len(ix.postings[t]) >= 2)
    ordered = next(d.ordered for _, d in sorted(ix.docs.items())
                   if len(set(d.ordered)) >= 2)
    phrase = list(dict.fromkeys(ordered))[:2]
    queries = {"q_hm": [head, mid], "q_rh": [rare, head],
               "q_dup": [mid, mid, head2], "q_unk": [mid, UNKNOWN],
               "q_one": [rare]}

    def bm25(eng, q, k, mode):
        return [(r["doc_id"], r["score"])
                for r in eng.bm25_topk(q, k=k, mode=mode).collect()]

    def bm25_batch(eng, k, mode):
        got = {}
        for r in eng.bm25_topk_batch(queries, k=k, mode=mode).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    def search(eng, q, mode):
        return [r["doc_id"] for r in eng.search(q, mode, log=False).collect()]

    def search_batch(eng, mode):
        return [tuple(r) for r in eng.search_batch(queries, mode).collect()]

    complex_req = ComplexRequest(SearchRequest([rare, head], "and"),
                                 SearchRequest(phrase, "phrase"), "or")
    # one Spark-tier plan per case costs ≈0.5-2 s, so each case covers
    # several edges; the batch cases carry rare+head and the unknown term
    cases = [
        ("bm25 or unknown k=3", lambda e: bm25(e, [head, mid, UNKNOWN], 3,
                                               "or"),
         ix.bm25_topk([head, mid, UNKNOWN], 3, "or")),
        ("bm25 and duplicate k>matches",
         lambda e: bm25(e, [mid, mid, head2], BIG_K, "and"),
         ix.bm25_topk([mid, mid, head2], BIG_K, "and")),
        ("bm25 and unknown", lambda e: bm25(e, [mid, UNKNOWN], 10, "and"),
         []),
        ("bm25 k=0", lambda e: bm25(e, [head], 0, "or"), []),
        ("batch or k>matches", lambda e: bm25_batch(e, BIG_K, "or"),
         {q: ix.bm25_topk(ts, BIG_K, "or") for q, ts in queries.items()}),
        ("batch and k=5", lambda e: bm25_batch(e, 5, "and"),
         {q: ix.bm25_topk(ts, 5, "and") for q, ts in queries.items()}),
        ("batch k=0", lambda e: bm25_batch(e, 0, "or"), {}),
    ]
    for q, mode in (([head, mid, UNKNOWN], "or"), ([mid, mid], "and"),
                    ([mid, UNKNOWN], "phrase"), (phrase, "phrase")):
        cases.append((f"search {mode} {q}",
                      lambda e, q=q, m=mode: search(e, q, m),
                      ix.search(q, mode, log=False)))
    for mode in ("or", "and"):
        cases.append((f"search_batch {mode}",
                      lambda e, m=mode: search_batch(e, m),
                      [(q, d) for q in sorted(queries)
                       for d in ix.search(queries[q], mode, log=False)]))
    cases.append(("search_complex", lambda e: [
        r["doc_id"] for r in e.search_complex(complex_req,
                                              log=False).collect()],
        ix.search_complex(complex_req)))
    return cases


def _same(got, want) -> bool:
    """Equal ids in order; BM25 scores within 1e-9."""
    if isinstance(want, dict):
        want = {q: rows for q, rows in want.items() if rows}
        return got.keys() == want.keys() and all(
            _same(got[q], want[q]) for q in want)
    if want and isinstance(want[0], tuple) and isinstance(want[0][1], float):
        return ([d for d, _ in got] == [d for d, _ in want]
                and all(abs(a - b) < 1e-9
                        for (_, a), (_, b) in zip(got, want)))
    return got == want


@pytest.fixture()
def zipf_copy(zipf_index, tmp_path):
    root = str(tmp_path / "idx")
    shutil.copytree(zipf_index[0], root)
    return root


def test_both_tiers_equal_the_oracle_across_mutations(spark, zipf_copy,
                                                      zipf_corpus):
    """Every request surface, forced to each tier, equals the oracle on
    the built index, after append → delete (tombstones live) and after
    compact."""
    root = zipf_copy
    ix = OracleIndex()
    ix.index_all(list(zipf_corpus.sort_values(["conv_id", "turn_idx"])
                      ["text"]))

    def check(stage):
        eng = SearchEngine(spark, root)
        for name, run, want in _cases(ix):
            # each tier forced: unbounded gate, then a closed one
            for gate in (float("inf"), 0):
                eng.LOCAL_MAX_POSTINGS = gate
                got = run(eng)
                assert _same(got, want), (stage, gate, name, got, want)
        return eng

    check("built")
    by_df = sorted(ix.postings, key=lambda t: (-len(ix.postings[t]), t))
    texts = [f"{by_df[i]} {by_df[i + 40]} 신규문서{i}" for i in range(6)]
    ingest.append_batch(spark, root, _batch_df(spark, texts))
    for t in texts:
        ix.index(t)
    victims = ix.search([by_df[len(by_df) // 10]], "or", log=False)[:3]
    victims.append(max(ix.docs))
    ingest.delete_docs(spark, root, victims)
    for v in victims:
        ix.delete(v)
    eng = check("appended+deleted")
    assert eng._tomb.tolist() == sorted(
        r["doc_id"] for r in eng.tombstones.collect())
    ingest.compact(spark, root)
    check("compacted")


def test_local_requests_launch_no_job(spark, zipf_index, count_jobs):
    """Each local-tier request, collect included, launches 0 jobs, and
    so does every empty result."""
    eng = SearchEngine(spark, zipf_index[0])
    terms = sorted(eng._terms, key=lambda t: -eng._terms[t][0])
    head, mid = terms[0], terms[len(terms) // 10]
    assert eng._terms[head][0] + eng._terms[mid][0] <= eng.LOCAL_MAX_POSTINGS
    batch = {"a": [head, mid], "b": [mid], "c": [mid, UNKNOWN]}
    calls = [
        lambda: eng.bm25_topk([head, mid], k=10),
        lambda: eng.bm25_topk([head, mid], k=10, mode="and",
                              use_wand=False),
        lambda: eng.bm25_topk_batch(batch, k=10),
        lambda: eng.search([head, mid], "or", log=False),
        lambda: eng.search([head, mid], "and", log=False),
        lambda: eng.search([head, mid], "phrase", log=False),
        lambda: eng.search_batch(batch, "and"),
        lambda: eng.search_complex(ComplexRequest(
            SearchRequest([head], "or"),
            SearchRequest([mid, head], "phrase"), "and"), log=False),
        # empty results
        lambda: eng.bm25_topk([head], k=0),
        lambda: eng.search([mid, UNKNOWN], "and", log=False),
        lambda: eng.search(["!!"], "phrase", log=False),
        lambda: eng.search_phrase_contiguous(["!!"]),
    ]
    for i, call in enumerate(calls):
        assert count_jobs(lambda: call().collect()) == 0, i


def test_query_log_files_fold_to_the_oracle_counts(spark, title_index,
                                                   tmp_path, count_jobs):
    """Log files written by pyarrow (a logged search) and by Spark
    (``log_query_tokens``) fold through ``aggregate_frequency`` to the
    oracle's counts, and a logged local-tier search launches no job."""
    root = str(tmp_path / "idx")
    shutil.copytree(title_index[0], root)
    # a copy with no query history: other tests log on the shared index
    shutil.rmtree(f"{root}/query_log", ignore_errors=True)
    cat = IndexCatalog(root)
    manifest = cat.read_manifest()
    manifest["tables"]["token_freq"], manifest["freq_offset"] = [], 0
    cat.commit_manifest(manifest)
    eng = SearchEngine(spark, root)
    assert count_jobs(lambda: eng.search_by_frequency_df("마")
                      .collect()) == 0  # no token_freq yet: empty
    ix = OracleIndex()
    ix.index_all(TITLES)
    for q, mode in ((["마법", "특별"], "or"), (["마법", UNKNOWN], "and"),
                    (["마법", "마법", "사랑"], "or"), (["마법", "특별"], "phrase")):
        assert count_jobs(lambda: eng.search(q, mode).collect()) == 0
        ix.search(q, mode)
    bulk = ["사랑", "마법", UNKNOWN, "사랑"]
    assert eng.log_query_tokens(spark.createDataFrame(
        [(t,) for t in bulk], "token string")) == 3
    for t in bulk:
        if t in ix.postings:
            ix._log_append(t, 1)
    eng.aggregate_frequency()
    ix.aggregate_frequency()
    freq = {r["term"]: r["freq"] for r in
            eng.search_by_frequency_df("", k=1000).collect()}
    assert freq == ix.token_frequency
    seqs = sorted(r["seq_id"] for r in spark.read.parquet(
        eng.cat.table_path("query_log")).collect())
    assert seqs == list(range(1, len(seqs) + 1))


def test_driver_dictionary_equals_the_spark_read(spark, title_index,
                                                 tmp_path):
    """``refresh()``'s pyarrow read gives the term map, the sorted
    prefix keys and the tombstones a Spark read of the same parts gives,
    after a delete."""
    root = str(tmp_path / "idx")
    shutil.copytree(title_index[0], root)
    ingest.delete_docs(spark, root, [38, 10])
    eng = SearchEngine(spark, root)
    td = eng.token_dict.select("term", "df", "term_bucket",
                               "decomposed").toPandas()
    assert eng._terms == dict(zip(td["term"], zip(
        td["df"].tolist(), td["term_bucket"].tolist())))
    by_dec = sorted(zip(td["decomposed"], td["term"]))
    assert eng._decomposed == [d for d, _ in by_dec]
    assert eng._dec_terms == [t for _, t in by_dec]
    assert eng._tomb.dtype == np.int64 and eng._tomb.tolist() == [10, 38]
