"""Segmented build: checkpoints, lineage/metrics, resume (north rule:
"resumable from per-partition checkpoints with lineage and build
metrics"), and query parity after merge."""

import json

import pytest

from konlspark import build, corpus
from konlspark.query import SearchEngine


@pytest.fixture(scope="module")
def seg_setup(spark, tmp_root, zipf_corpus, zipf_oracle):
    root = f"{tmp_root}/seg_index"
    tdf = corpus.spark_transcripts(spark, zipf_corpus)
    manifest = build.build_index(spark, tdf, root, n_segments=3,
                                 target_per_split=300, block_size=64)
    return root, manifest, tdf


def test_segment_checkpoints_and_metrics(seg_setup):
    root, manifest, _ = seg_setup
    with open(f"{root}/_meta/segments.json") as f:
        segs = json.load(f)["segments"]
    assert len(segs) == 3
    for entry in segs.values():
        assert "fingerprint" in entry
        assert entry["lineage"]["doc_id_range"]
        m = entry["metrics"]
        assert m["postings"] > 0 and m["terms"] > 0
        assert m["terms_per_sec"] > 0
        assert m["skew_ratio"] >= 1.0
        assert isinstance(m["postings_per_partition"], list)


def test_resume_skips_committed_segments(spark, seg_setup):
    root, _, tdf = seg_setup
    m2 = build.build_index(spark, tdf, root, n_segments=3,
                           target_per_split=300, block_size=64)
    assert m2["segment_metrics"] == []  # nothing rebuilt


def test_resume_rebuilds_missing_segment(spark, seg_setup, zipf_oracle):
    root, _, tdf = seg_setup
    path = f"{root}/_meta/segments.json"
    with open(path) as f:
        state = json.load(f)
    del state["segments"]["segment=00001"]
    with open(path, "w") as f:
        json.dump(state, f)
    m3 = build.build_index(spark, tdf, root, n_segments=3,
                           target_per_split=300, block_size=64)
    assert len(m3["segment_metrics"]) == 1
    assert "segment=00001" in m3["segment_metrics"][0]


def test_merged_index_query_parity(spark, seg_setup, zipf_oracle):
    root, _, _ = seg_setup
    eng = SearchEngine(spark, root)
    for q in (["마법", "특별"], ["spark", "query", "index"]):
        got = [(r["doc_id"], r["score"]) for r in
               eng.bm25_topk(q, k=10).collect()]
        want = zipf_oracle.bm25_topk(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert abs(a - b) < 1e-9
        assert ([r["doc_id"] for r in eng.search(q, "and", log=False).collect()]
                == zipf_oracle.search(q, "and", log=False))


def test_merge_and_build_write_identical_blocks(spark, tmp_root, seg_setup,
                                                postings_rows):
    """Segment merge re-encodes with the build's block encoder, so a
    3-segment build's postings equal a 1-segment build's, every block
    column included."""
    root, _, tdf = seg_setup
    one = f"{tmp_root}/seg_index_one"
    build.build_index(spark, tdf, one, target_per_split=300, block_size=64)
    merged, built = postings_rows(root), postings_rows(one)
    assert len(merged) > 0
    assert merged == built
