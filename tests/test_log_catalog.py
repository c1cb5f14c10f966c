"""Catalog-routed sequence markers + crash-safe query-log appends."""

import os

import pytest


def test_non_local_root_fails_loudly():
    from konlspark.catalog import IndexCatalog
    with pytest.raises(NotImplementedError, match="local-filesystem"):
        IndexCatalog("s3://bucket/index")
    with pytest.raises(NotImplementedError):
        IndexCatalog("hdfs://nn:8020/warehouse/idx")


def test_snapshot_rejects_another_format_version(tmp_root):
    """A manifest of another layout fails loudly, naming the root and
    both versions, instead of being read as this one."""
    from konlspark.catalog import FORMAT_VERSION, IndexCatalog, Snapshot
    cat = IndexCatalog(f"{tmp_root}/format_v1")
    cat.commit_manifest({"format_version": 1, "tables": {"docs": ["docs"]}})
    with pytest.raises(ValueError) as err:
        Snapshot(None, cat)
    for part in (cat.root, "format_version 1",
                 f"format_version {FORMAT_VERSION}"):
        assert part in str(err.value)


def test_marker_reserve_and_last(tmp_root):
    """Each reserve replaces the marker before it: the directory holds
    one file however many searches were logged, and a marker left
    below the max (a crash before the cleanup) is read past and then
    removed by the next reserve."""
    from konlspark.catalog import IndexCatalog
    cat = IndexCatalog(f"{tmp_root}/marker_cat")
    d = cat._marker_dir("query_log")
    assert cat.marker_last("query_log") == 0
    for last in (7, 12, 13, 25):
        cat.marker_reserve("query_log", last)
    assert cat.marker_last("query_log") == 25
    assert os.listdir(d) == [f"{25:020d}"]
    open(os.path.join(d, f"{20:020d}"), "w").close()
    assert cat.marker_last("query_log") == 25
    cat.marker_reserve("query_log", 30)
    assert os.listdir(d) == [f"{30:020d}"]
    assert cat.marker_last("query_log") == 30


def test_seq_gap_never_double_counts(spark, title_index):
    """A reserved-but-unwritten range (crash between marker reserve and
    parquet write) must leave a gap, not a reused range: subsequent
    appends and aggregation stay exact."""
    from konlspark.catalog import Snapshot
    from konlspark.query import SearchEngine
    root, _ = title_index
    eng = SearchEngine(spark, root)
    term = (eng.token_dict.select("term").orderBy("term")
            .limit(1).collect()[0]["term"])
    base = eng._last_log_seq()
    eng._append_log([term])
    # simulate a crashed append: range reserved, rows never written
    eng.cat.marker_reserve("query_log", eng._last_log_seq() + 5)
    eng._append_log([term])
    eng.aggregate_frequency()
    freq = {r["term"]: r["freq"]
            for r in Snapshot(spark, eng.cat).read("token_freq").collect()}
    # exactly the two written occurrences counted, orphan range ignored
    assert freq[term] >= 2
    rows = (spark.read.parquet(eng.cat.table_path("query_log"))
            .filter("seq_id > %d" % base).collect())
    assert len(rows) == 2
    assert len({r["seq_id"] for r in rows}) == 2  # distinct seq ids


def test_log_query_tokens_driver_free_batch(spark, title_index):
    from pyspark.sql import functions as F
    from konlspark.query import SearchEngine
    root, _ = title_index
    eng = SearchEngine(spark, root)
    t1, t2 = sorted(r["term"] for r in
                    eng.token_dict.select("term").orderBy("term")
                    .limit(2).collect())
    last_before = eng._last_log_seq()
    toks = spark.createDataFrame(
        [(t1,), (t2,), ("zzz-no-such-term",), (t1,)], "token string")
    n = eng.log_query_tokens(toks)
    assert n == 3  # the unknown token filtered by the hit semi-join
    assert eng._last_log_seq() == last_before + 3
    logged = (spark.read.parquet(eng.cat.table_path("query_log"))
              .filter(F.col("seq_id") > last_before)
              .orderBy("seq_id").collect())
    assert sorted(r["token"] for r in logged) == sorted([t1, t1, t2])
    assert [r["seq_id"] for r in logged] == [last_before + 1,
                                             last_before + 2,
                                             last_before + 3]


def test_log_query_tokens_single_input_execution(spark, title_index):
    """The hit semi-join input must execute exactly ONCE per call
    (r3 verdict: the count job and the write both recomputed the same
    lineage). An accumulator inside the input counts passes."""
    from konlspark.query import SearchEngine
    root, _ = title_index
    eng = SearchEngine(spark, root)
    t1, t2 = sorted(r["term"] for r in
                    eng.token_dict.select("term").orderBy("term")
                    .limit(2).collect())
    acc = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(
        [(t1,), (t2,), ("zzz-no-such-term",), (t1,)], "token string")
    toks = base.repartition(2).mapInPandas(counted, "token string")
    n = eng.log_query_tokens(toks)
    assert n == 3
    assert acc.value == 4  # one pass over the 4 input rows, not two
