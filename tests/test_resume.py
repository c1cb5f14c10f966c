"""Segmented build: checkpoints, lineage/metrics, resume (north rule:
"resumable from per-partition checkpoints with lineage and build
metrics"), and query parity of the term-bucket-range segments."""

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
    """A segment is a term-bucket range written with the build's block
    encoder, so a 3-segment build's postings equal a 1-segment build's,
    every block column included."""
    root, _, tdf = seg_setup
    one = f"{tmp_root}/seg_index_one"
    build.build_index(spark, tdf, one, target_per_split=300, block_size=64)
    merged, built = postings_rows(root), postings_rows(one)
    assert len(merged) > 0
    assert merged == built


def test_resume_rebuilds_segments_of_a_different_corpus(spark, tmp_root):
    """Resume is keyed on the docs' content: rebuilding a root with
    another corpus of the same size rebuilds every segment, and the
    index answers for the new corpus."""
    from konlspark.fixtures.titles import TITLES
    from konlspark.oracle import OracleIndex
    root = f"{tmp_root}/seg_titles"
    titles = corpus.make_title_transcripts()
    build.build_index(spark, corpus.spark_transcripts(spark, titles), root,
                      n_segments=3)
    titles["text"] = list(reversed(TITLES))
    m = build.build_index(spark, corpus.spark_transcripts(spark, titles),
                          root, n_segments=3)
    assert len(m["segment_metrics"]) == 3
    ix = OracleIndex()
    ix.index_all(list(reversed(TITLES)))
    got = SearchEngine(spark, root).search(["마법", "특별"], "or", log=False)
    assert ([r["doc_id"] for r in got.collect()]
            == ix.search(["마법", "특별"], "or", log=False))


@pytest.fixture(scope="module")
def one_shot_rows(spark, tmp_root, seg_setup, postings_rows):
    """The postings rows of seg_setup's corpus and layout, built in one
    shot."""
    root = f"{tmp_root}/seg_one_shot"
    build.build_index(spark, seg_setup[2], root, target_per_split=300,
                      block_size=64)
    return postings_rows(root)


def test_ranges_cover_every_bucket_once(seg_setup):
    """Segments are term-bucket ranges: together they cover
    ``[0, n_buckets)`` exactly once, and no staging dir is left."""
    import os
    root, manifest, _ = seg_setup
    with open(f"{root}/_meta/segments.json") as f:
        segs = json.load(f)["segments"]
    covered = sorted(b for e in segs.values()
                     for b in range(*e["lineage"]["term_buckets"]))
    assert covered == list(range(manifest["n_buckets"]))
    for e in segs.values():
        assert e["lineage"]["doc_id_range"] == [1, manifest["n_docs"] + 1]
        lo, hi = e["lineage"]["term_buckets"]
        assert len(e["metrics"]["postings_per_partition"]) == hi - lo
    assert not os.path.exists(f"{root}/_segments")


def test_interrupted_build_resumes_its_ranges(spark, tmp_root, seg_setup,
                                              one_shot_rows, postings_rows,
                                              monkeypatch):
    """A build that fails after the third range's write (its buckets are
    on disk, its checkpoint is not) reruns only that range, and the
    rewrite replaces its buckets instead of adding rows."""
    root, tdf = f"{tmp_root}/seg_interrupted", seg_setup[2]
    commit = build._commit_range

    def fail_third(cat, seg, *args):
        if seg == 2:
            raise RuntimeError("injected range failure")
        return commit(cat, seg, *args)

    monkeypatch.setattr(build, "_commit_range", fail_third)
    with pytest.raises(RuntimeError, match="injected range failure"):
        build.build_index(spark, tdf, root, n_segments=3,
                          target_per_split=300, block_size=64)
    monkeypatch.setattr(build, "_commit_range", commit)
    m = build.build_index(spark, tdf, root, n_segments=3,
                          target_per_split=300, block_size=64)
    assert [list(e) for e in m["segment_metrics"]] == [["segment=00002"]]
    assert postings_rows(root) == one_shot_rows


def test_changing_n_buckets_rebuilds_every_range(spark, tmp_root,
                                                 title_oracle):
    """Another ``n_buckets`` on the same root rebuilds every range, and
    the first write clears the old layout's buckets."""
    root = f"{tmp_root}/seg_rebucket"
    tdf = corpus.spark_transcripts(spark, corpus.make_title_transcripts())
    build.build_index(spark, tdf, root, n_buckets=32, n_segments=3)
    m = build.build_index(spark, tdf, root, n_buckets=8, n_segments=3)
    assert len(m["segment_metrics"]) == 3
    buckets = {r["term_bucket"] for r in spark.read.parquet(
        f"{root}/postings").select("term_bucket").distinct().collect()}
    assert buckets <= set(range(8))
    got = SearchEngine(spark, root).search(["마법", "특별"], "or", log=False)
    assert ([r["doc_id"] for r in got.collect()]
            == title_oracle.search(["마법", "특별"], "or", log=False))
    with pytest.raises(ValueError, match="n_segments"):
        build.build_index(spark, tdf, root, n_buckets=8, n_segments=9)


def test_compact_keeps_target_per_split(spark, tmp_root, seg_setup,
                                        one_shot_rows):
    """Compaction writes with the build's ``target_per_split`` (kept in
    the manifest): a compacted index built at 300 holds a fresh 300
    build's postings rows, head-term salts included."""
    from konlspark import ingest
    from konlspark.catalog import IndexCatalog, Snapshot
    root = f"{tmp_root}/seg_compacted"
    build.build_index(spark, seg_setup[2], root, target_per_split=300,
                      block_size=64)
    ingest.compact(spark, root)
    rows = (Snapshot(spark, IndexCatalog(root)).read("postings")
            .orderBy("term", "salt", "block_seq").collect())
    assert rows == one_shot_rows
