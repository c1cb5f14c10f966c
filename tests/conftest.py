import shutil
import tempfile
import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from konlspark.session import get_spark
    s = get_spark("konlspark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_root():
    d = tempfile.mkdtemp(prefix="konlspark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def title_index(spark, tmp_root):
    """The 132-title reference corpus, built once per test session."""
    from konlspark import build, corpus
    root = f"{tmp_root}/title_index"
    tdf = corpus.spark_transcripts(spark, corpus.make_title_transcripts())
    manifest = build.build_index(spark, tdf, root)
    return root, manifest


@pytest.fixture(scope="session")
def title_oracle():
    from konlspark.fixtures.titles import TITLES
    from konlspark.oracle import OracleIndex
    ix = OracleIndex()
    ix.index_all(TITLES)
    return ix


@pytest.fixture(scope="session")
def zipf_corpus():
    """2k-turn Zipf-skewed synthetic corpus as a pandas DF (FIXTURES §1)."""
    from konlspark import corpus
    return corpus.make_transcripts(2000, turns_per_conv=25, seed=7)


@pytest.fixture(scope="session")
def zipf_index(spark, tmp_root, zipf_corpus):
    from konlspark import build, corpus
    root = f"{tmp_root}/zipf_index"
    tdf = corpus.spark_transcripts(spark, zipf_corpus)
    # small target_per_split forces real salting of head terms in tests
    manifest = build.build_index(spark, tdf, root, target_per_split=200,
                                 block_size=64)
    return root, manifest


@pytest.fixture(scope="session")
def zipf_oracle(zipf_corpus):
    """Oracle over the deduped zipf corpus in (conv_id, turn_idx) order."""
    from konlspark.oracle import OracleIndex
    ix = OracleIndex()
    ordered = zipf_corpus.sort_values(["conv_id", "turn_idx"])
    ix.index_all(list(ordered["text"]))
    return ix


@pytest.fixture(scope="session")
def postings_rows(spark):
    """root → every block row of the committed ``postings`` table, in
    (term, salt, block_seq) order."""
    def read(root):
        from konlspark.catalog import IndexCatalog
        path = IndexCatalog(root).table_path("postings")
        return (spark.read.parquet(path)
                .orderBy("term", "salt", "block_seq").collect())
    return read


@pytest.fixture(scope="session")
def count_jobs(spark):
    """fn → how many Spark jobs ``fn()`` launched, counted through a job
    group of its own."""
    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture(scope="session")
def kept_blocks():
    """(eng, meta, term, sorted ids) → (how many of ``term``'s blocks
    hold one of ``ids``, how many blocks ``term`` has)."""
    def count(eng, meta, term, ids):
        from konlspark.query import _holds
        blocks = (eng._blocks_for({term: meta[term]})
                  .select("first_doc_id", "last_doc_id").toPandas())
        held = _holds(ids, blocks["first_doc_id"].to_numpy(),
                      blocks["last_doc_id"].to_numpy())
        return int(held.sum()), len(blocks)
    return count


@pytest.fixture
def broadcast_log(spark, monkeypatch):
    """Records every broadcast made and every ``Broadcast.unpersist``
    call; ``fail_collect()`` makes any collect or toPandas raise while a
    recorded broadcast is still held."""
    from pyspark import Broadcast, SparkContext
    log = {"made": [], "released": []}
    broadcast, unpersist = SparkContext.broadcast, Broadcast.unpersist

    def track(self, value):
        log["made"].append(broadcast(self, value))
        return log["made"][-1]

    def release(self, blocking=False):
        log["released"].append(self)
        return unpersist(self, blocking)

    def fail_collect():
        cls = type(spark.range(1))
        for name in ("collect", "toPandas"):
            def raising(self, *a, _orig=getattr(cls, name), **kw):
                if len(log["made"]) > len(log["released"]):
                    raise RuntimeError("injected collect failure")
                return _orig(self, *a, **kw)
            monkeypatch.setattr(cls, name, raising)

    monkeypatch.setattr(SparkContext, "broadcast", track)
    monkeypatch.setattr(Broadcast, "unpersist", release)
    log["fail_collect"] = fail_collect
    return log
