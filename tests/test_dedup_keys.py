"""Dedup invariants under duplicate (conv_id, turn_idx) input keys.

The narrow winner-key dedup alone cannot tie-break two FULLY identical
rows (same key, same text) — both match the winner key. The ranked
count/rank passes drop adjacent duplicates deterministically instead,
so exactly one row per text_hash survives unconditionally (the b2
oracle invariant), ids stay dense, and dropped copies surface in the
CONFLICT report.
"""

import datetime

import pandas as pd

from konlspark.catalog import IndexCatalog, Snapshot


def _conflicts(spark, root):
    """The committed CONFLICT rows of the index at ``root``."""
    return Snapshot(spark, IndexCatalog(root)).read("conflicts").collect()


def _tdf(spark, rows):
    from konlspark import corpus
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    pdf = pd.DataFrame([
        {"conv_id": c, "turn_idx": t, "role": "user", "text": x,
         "tool": "", "ts": ts}
        for c, t, x in rows
    ])
    return corpus.spark_transcripts(spark, pdf)


def test_build_docs_duplicate_key_same_text_one_survivor(spark, tmp_root):
    from konlspark import build
    from konlspark.query import SearchEngine
    rows = [
        ("c0", 0, "alpha beta"),
        ("c0", 1, "gamma delta"),
        ("c0", 1, "gamma delta"),      # identical key AND text → drop one
        ("c0", 1, "gamma delta"),      # and another copy
        ("c1", 0, "alpha beta"),       # same text, different key → loser
        ("c1", 1, "epsilon zeta"),
    ]
    root = f"{tmp_root}/dup_key_idx"
    build.build_index(spark, _tdf(spark, rows), root)
    eng = SearchEngine(spark, root)
    docs = eng.docs.select("doc_id", "text").orderBy("doc_id").collect()
    texts = [r["text"] for r in docs]
    assert texts == ["alpha beta", "gamma delta", "epsilon zeta"]
    assert [r["doc_id"] for r in docs] == [1, 2, 3]  # dense, no gaps
    conflicts = _conflicts(spark, root)
    # 2 dropped identical copies + 1 cross-key duplicate, all resolving
    # to the winning doc id
    assert len(conflicts) == 3
    by_key = {(r["conv_id"], r["turn_idx"]): r["conflict_doc_id"]
              for r in conflicts}
    assert by_key[("c1", 0)] == 1
    assert by_key[("c0", 1)] == 2


def test_build_docs_duplicate_key_different_text_both_survive(spark, tmp_root):
    from konlspark import build
    from konlspark.query import SearchEngine
    rows = [
        ("c0", 0, "one two"),
        ("c0", 0, "three four"),  # same key, different text: two docs
    ]
    root = f"{tmp_root}/dup_key_idx2"
    build.build_index(spark, _tdf(spark, rows), root)
    eng = SearchEngine(spark, root)
    texts = sorted(r["text"] for r in eng.docs.select("text").collect())
    assert texts == ["one two", "three four"]
    assert len(eng) == 2


def test_append_batch_duplicate_key_and_derived_counts(spark, tmp_root):
    from konlspark import build, ingest
    from konlspark.query import SearchEngine
    root = f"{tmp_root}/dup_key_append"
    build.build_index(spark, _tdf(spark, [("c0", 0, "base text")]), root)
    batch = [
        ("c1", 0, "base text"),       # conflict vs live
        ("c1", 1, "fresh one"),
        ("c1", 2, "fresh two"),
        ("c1", 2, "fresh two"),       # identical key+text → one survivor
        ("c1", 3, "fresh one"),       # in-batch duplicate (other key)
    ]
    res = ingest.append_batch(spark, root, _tdf(spark, batch))
    assert res["indexed"] == 2
    assert res["conflicts"] == 3  # rows_in (5) - indexed (2)
    eng = SearchEngine(spark, root)
    texts = sorted(r["text"] for r in eng.docs.select("text").collect())
    assert texts == ["base text", "fresh one", "fresh two"]
    # the conflicts TABLE must carry the same rows as the reported
    # count — incl. the identical-key dropped copy (r3 ADVICE): the
    # ("c1", 2) copy resolves to the NEW "fresh two" doc id
    conflicts = _conflicts(spark, root)
    assert len(conflicts) == res["conflicts"]
    by_key = {(r["conv_id"], r["turn_idx"]): r["conflict_doc_id"]
              for r in conflicts}
    fresh_two_id = eng.docs.filter("text = 'fresh two'") \
        .collect()[0]["doc_id"]
    assert by_key[("c1", 2)] == fresh_two_id


def test_exact_dedup_narrow_matches_semantics(spark):
    from konlspark.ops.dedup import exact_dedup
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "a"), (5, "c")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["dup_count"]
           for r in exact_dedup(df).select("doc_id", "dup_count").collect()}
    assert out == {1: 3, 2: 1, 5: 1}


def test_build_docs_null_text_does_not_crash(spark, tmp_root):
    """sha2(null text) → null text_hash: the carry filter's equality
    must be null-safe (null == null counts as equal, matching the count
    pass's countDistinct-over-struct), or the whole build dies with
    `bad operand type for unary ~: NoneType` (r3 ADVICE medium)."""
    from konlspark import build
    from konlspark.query import SearchEngine
    import datetime
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        ("c0", 0, "alpha beta"),
        ("c0", 1, None),           # null text → null dedup key component
        ("c0", 1, None),           # identical (key, null) → one survivor
        ("c1", 0, None),           # different key, null text → own doc
        ("c1", 1, "gamma delta"),
    ]
    tdf = spark.createDataFrame(
        [(c, t, "user", x, "", ts) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    root = f"{tmp_root}/null_text_idx"
    build.build_index(spark, tdf, root)
    eng = SearchEngine(spark, root)
    docs = eng.docs.select("doc_id", "text").orderBy("doc_id").collect()
    # both passes agree: 4 docs, dense ids (count pass counts distinct
    # struct tuples incl. nulls; rank pass drops the adjacent repeat)
    assert [r["doc_id"] for r in docs] == [1, 2, 3, 4]
    assert sum(1 for r in docs if r["text"] is None) == 2
    assert len(eng) == 4
    # the dropped identical (key, null-text) copy must STILL appear in
    # the conflicts table, resolving to the surviving null-text doc of
    # the same key (r4 ADVICE class: null-unsafe hash joins dropped it)
    conflicts = _conflicts(spark, root)
    assert len(conflicts) == 1
    null_doc_id = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
                   for r in eng.docs.select(
                       "conv_id", "turn_idx", "doc_id").collect()}
    assert (conflicts[0]["conv_id"], conflicts[0]["turn_idx"]) == ("c0", 1)
    assert conflicts[0]["conflict_doc_id"] == null_doc_id[("c0", 1)]


def test_append_batch_null_text_duplicate_conflict_parity(spark, tmp_root):
    """A batch of duplicate (conv_id, turn_idx, NULL-text) rows: the
    dropped copy must land in the conflicts TABLE (table == reported
    count) even though text_hash is NULL — the old equi-join on
    text_hash silently dropped it (r4 ADVICE low)."""
    from konlspark import build, ingest
    from konlspark.query import SearchEngine
    import datetime
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)

    def tdf(rows):
        return spark.createDataFrame(
            [(c, t, "user", x, "", ts) for c, t, x in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")

    root = f"{tmp_root}/null_text_append"
    build.build_index(spark, tdf([("c0", 0, "base text")]), root)
    batch = [
        ("c1", 0, None),  # null text survives as its own doc
        ("c1", 0, None),  # identical (key, NULL) copy → dropped
        ("c1", 1, "fresh"),
    ]
    res = ingest.append_batch(spark, root, tdf(batch))
    assert res["indexed"] == 2
    assert res["conflicts"] == 1  # rows_in (3) - indexed (2)
    conflicts = _conflicts(spark, root)
    assert len(conflicts) == res["conflicts"]
    eng = SearchEngine(spark, root)
    null_doc = eng.docs.filter("text IS NULL").collect()
    assert len(null_doc) == 1
    assert (conflicts[0]["conv_id"], conflicts[0]["turn_idx"]) == ("c1", 0)
    assert conflicts[0]["conflict_doc_id"] == null_doc[0]["doc_id"]


def _conflict_rows(spark, root):
    return sorted((r["conv_id"], r["turn_idx"], r["conflict_doc_id"])
                  for r in _conflicts(spark, root))


def test_append_keeps_every_conflict_row_of_a_shared_key(spark, tmp_root):
    """Two losers sharing one (conv_id, turn_idx) are two conflict rows,
    in an append as in a build of the same rows."""
    from konlspark import build, ingest
    base = [("c0", 0, "base text")]
    batch = [("c1", 0, "xx yy"), ("c1", 1, "zz ww"),
             ("c1", 3, "xx yy"), ("c1", 3, "zz ww")]
    root = f"{tmp_root}/shared_key_append"
    build.build_index(spark, _tdf(spark, base), root)
    res = ingest.append_batch(spark, root, _tdf(spark, batch))
    assert res == {"indexed": 2, "conflicts": 2, "first_doc_id": 2}
    built = f"{tmp_root}/shared_key_build"
    build.build_index(spark, _tdf(spark, base + batch), built)
    assert _conflict_rows(spark, built) == [("c1", 3, 2), ("c1", 3, 3)]
    assert _conflict_rows(spark, root) == _conflict_rows(spark, built)


def test_all_duplicate_append_writes_its_conflicts(spark, tmp_root):
    """A batch whose every text a live doc holds indexes nothing and
    commits only its conflict part, reporting each row as a conflict."""
    from konlspark import build, ingest
    root = f"{tmp_root}/all_dup_append"
    build.build_index(spark, _tdf(spark, [("c0", 0, "base text"),
                                          ("c0", 1, "other text")]), root)
    before = IndexCatalog(root).read_manifest()
    res = ingest.append_batch(spark, root, _tdf(
        spark, [("c1", 0, "base text"), ("c1", 1, "other text")]))
    assert res == {"indexed": 0, "conflicts": 2, "first_doc_id": None}
    assert _conflict_rows(spark, root) == [("c1", 0, 1), ("c1", 1, 2)]
    after = IndexCatalog(root).read_manifest()
    assert len(after["tables"]["conflicts"]) == 2
    for m in (before, after):
        del m["tables"]["conflicts"], m["next_part"], m["committed_at"]
    assert after == before  # no doc, stat or other table changed
