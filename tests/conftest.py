import shutil
import tempfile

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
