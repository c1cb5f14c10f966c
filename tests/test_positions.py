"""Opt-in positional postings (build_index(store_positions=True)).

Parity contract: the stored-positions contiguous-phrase path must equal
the recompute path on EVERY fixture — both verify adjacency over the
same ordered morph stream (tokenize_with_order), one from stored
per-occurrence positions, one by re-tokenizing candidates.
"""

import numpy as np
import pyarrow as pa
import pytest

from konlspark import codec


PHRASES = [
    ["마법", "특별"], ["특별", "마법"], ["spark", "query"],
    ["마법"], ["없는단어쿼리"], ["마법", "특별", "건담"],
]


def ids(df):
    return [r["doc_id"] for r in df.collect()]


@pytest.fixture(scope="module")
def pos_index(spark, tmp_root, zipf_corpus):
    """Zipf corpus with positions, tiny blocks so terms span blocks."""
    from konlspark import build, corpus
    root = f"{tmp_root}/pos_index"
    tdf = corpus.spark_transcripts(spark, zipf_corpus)
    manifest = build.build_index(spark, tdf, root, target_per_split=200,
                                 block_size=64, store_positions=True)
    return root, manifest


@pytest.fixture(scope="module")
def peng(spark, pos_index):
    from konlspark.query import SearchEngine
    root, manifest = pos_index
    assert manifest["positions"] is True
    return SearchEngine(spark, root)


def test_positions_codec_roundtrip_random():
    rng = np.random.default_rng(11)
    all_lists = []
    for _ in range(20):
        lists = [np.sort(rng.choice(10_000, size=rng.integers(0, 40),
                                    replace=False))
                 for _ in range(int(rng.integers(0, 50)))]
        c, v = codec.encode_positions(lists)
        back = codec.decode_positions(c, v)
        assert len(back) == len(lists)
        for a, b in zip(lists, back):
            assert list(a) == list(b)
        all_lists += lists
    # the batch codec: every list above as postings of one term, in
    # 1-, 7- and 64-posting blocks decoded as one Arrow batch (count-0
    # docs included), equals the per-block codec
    n = len(all_lists)
    for block_size in (1, 7, 64):
        rows = codec.encode_blocks("t", 0, np.arange(1, n + 1), np.ones(n),
                                   np.ones(n), 1.0, block_size, all_lists)
        want = []
        for r, lo in zip(rows.itertuples(index=False),
                         range(0, n, block_size)):
            assert (r.pos_counts, r.positions) == codec.encode_positions(
                all_lists[lo:lo + block_size])
            want += codec.decode_positions(r.pos_counts, r.positions)
        got = codec.decode_blocks(pa.RecordBatch.from_pandas(rows),
                                  ("positions",))["positions"].to_pylist()
        assert got == [list(p) for p in want]


def test_stored_positions_match_recompute(peng):
    for q in PHRASES:
        stored = ids(peng.search_phrase_contiguous(q, use_positions=True))
        recomputed = ids(peng.search_phrase_contiguous(
            q, use_positions=False))
        assert stored == recomputed, q
        # auto-routing picks the stored path on a positional index
        auto = ids(peng.search_phrase_contiguous(q))
        assert auto == stored, q


def test_stored_positions_match_bruteforce(peng, zipf_corpus):
    """Independent oracle: adjacency over the deduped corpus's ordered
    streams (the same brute force the recompute test uses)."""
    from konlspark import tokenizer as tk
    q = ["마법", "특별"]
    qm = tk.tokenize_with_order(" ".join(q))
    texts = {}
    for t in zipf_corpus.itertuples(index=False):
        texts.setdefault(t.text, None)
    want = []
    doc_id = 0
    for text in texts:  # keep-first dedup, ids dense in input order
        doc_id += 1
        ordered = tk.tokenize_with_order(text)
        if any(ordered[i:i + len(qm)] == qm
               for i in range(len(ordered) - len(qm) + 1)):
            want.append(doc_id)
    got = ids(peng.search_phrase_contiguous(q, use_positions=True))
    assert got == want


@pytest.fixture(scope="module")
def pos_seg_root(spark, tmp_root, zipf_corpus):
    """The pos_index build, split into 3 segments and merged."""
    from konlspark import build, corpus
    root = f"{tmp_root}/pos_seg_index"
    tdf = corpus.spark_transcripts(spark, zipf_corpus)
    manifest = build.build_index(spark, tdf, root, target_per_split=200,
                                 block_size=64, n_segments=3,
                                 store_positions=True)
    assert manifest["positions"] is True
    return root


def test_positions_survive_segment_merge(spark, pos_seg_root):
    from konlspark.query import SearchEngine
    eng = SearchEngine(spark, pos_seg_root)
    for q in PHRASES[:3]:
        assert ids(eng.search_phrase_contiguous(q, use_positions=True)) \
            == ids(eng.search_phrase_contiguous(q, use_positions=False)), q


def test_merged_positional_blocks_equal_built(pos_index, pos_seg_root,
                                              postings_rows):
    """Merge and build share one block encoder: the merged positional
    postings equal the 1-segment build's, pos_counts/positions
    included."""
    merged, built = postings_rows(pos_seg_root), postings_rows(pos_index[0])
    assert len(merged) > 0
    assert merged == built


def test_positions_projection_matches_codec(peng):
    """The positions projection of `_decode` equals per-block
    codec.decode_positions, on terms that span several blocks."""
    from pyspark.sql import functions as F
    meta = peng._term_meta([t for t in peng.token_dict
                            .orderBy(F.desc("df"), "term").limit(3)
                            .toPandas()["term"]])
    blocks = peng._blocks_for(meta)
    got = sorted((r["term"], r["doc_id"], list(r["positions"])) for r in
                 peng._decode(blocks, cols=("term", "doc_id", "positions"))
                 .collect())
    want = []
    for r in blocks.select("term", "doc_ids_delta", "pos_counts",
                           "positions").collect():
        want += [(r["term"], int(d), [int(p) for p in pos]) for d, pos in zip(
            codec.decode_doc_ids(r["doc_ids_delta"]),
            codec.decode_positions(r["pos_counts"], r["positions"]))]
    assert len(got) > 3 * 64
    assert got == sorted(want)


def test_positions_survive_append_and_delete(spark, tmp_root):
    from konlspark import build, corpus, ingest
    from konlspark.query import SearchEngine
    base = corpus.make_transcripts(400, turns_per_conv=10, seed=21)
    extra = corpus.make_transcripts(200, turns_per_conv=10, seed=22)
    # distinct conv ids so the append isn't all-conflict
    extra["conv_id"] = extra["conv_id"] + "-x"
    root = f"{tmp_root}/pos_ingest_index"
    build.build_index(spark, corpus.spark_transcripts(spark, base), root,
                      block_size=64, store_positions=True)
    ingest.append_batch(spark, root,
                        corpus.spark_transcripts(spark, extra))
    eng = SearchEngine(spark, root)
    victims = ids(eng.search(["마법"], "or", log=False))[:3]
    if victims:
        ingest.delete_docs(spark, root, victims)
        eng.refresh()
    for q in PHRASES[:4]:
        stored = ids(eng.search_phrase_contiguous(q, use_positions=True))
        recomputed = ids(eng.search_phrase_contiguous(
            q, use_positions=False))
        assert stored == recomputed, q
        assert not set(stored) & set(victims)
    # compact keeps the flag and parity
    ingest.compact(spark, root)
    eng.refresh()
    assert eng.has_positions
    for q in PHRASES[:2]:
        assert ids(eng.search_phrase_contiguous(q, use_positions=True)) \
            == ids(eng.search_phrase_contiguous(q, use_positions=False)), q


def test_plain_index_rejects_forced_positions(spark, zipf_index):
    from konlspark.query import SearchEngine
    eng = SearchEngine(spark, zipf_index[0])
    assert not eng.has_positions
    with pytest.raises(ValueError):
        eng.search_phrase_contiguous(["마법"], use_positions=True)
