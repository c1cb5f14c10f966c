"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the
driver's tables at ``sf_dir`` (region nation customer supplier part
orders lineitem events documents embeddings). Column names are aliased
identically on both sides (the driver hashes values under sorted column
names). Floating results are rounded on both sides.

The ``engine_*`` entries run the *actual* full-text engine (build the
inverted index over ``documents``, query it) — the BM25 oracle is the
whole scoring pipeline spelled out in ANSI SQL.
"""

from __future__ import annotations

import atexit
import os
import tempfile
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ops.textstats import (with_fingerprint, with_lang_id,
                             with_quality_score, with_token_counts,
                             ws_tokens)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin a small single-file scan across the cluster. The
    driver tables are one parquet file with one row group → ONE input
    partition, which would serialize every map-side expression (md5
    shingling, minhash aggs) onto a single task. On a real cluster the
    input arrives partitioned; this reproduces that shape locally."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _exploded_terms(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("term"))


_DUCK_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


# ---------------------------------------------------------------------------
# the real engine over `documents` (memoized per sf_dir)
# ---------------------------------------------------------------------------

_ENGINE_CACHE: Dict[str, str] = {}


def _cleanup_engine_roots() -> None:
    """Remove the per-process contract index roots at interpreter exit
    (r3 verdict: /tmp/konlspark_contract_<pid>_* accumulated across
    sweeps). Registered once at import; idempotent."""
    import shutil
    for root in _ENGINE_CACHE.values():
        shutil.rmtree(root, ignore_errors=True)
    _ENGINE_CACHE.clear()


atexit.register(_cleanup_engine_roots)


def _engine_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process+sf_dir) the full-text index over the
    deduped documents table, treating each document as one transcript
    turn with conv_id ordered like doc_id."""
    if sf_dir in _ENGINE_CACHE:
        return _ENGINE_CACHE[sf_dir]
    from . import build
    root = os.path.join(
        tempfile.gettempdir(),
        f"konlspark_contract_{os.getpid()}_"
        + sf_dir.strip("/").replace("/", "_"))
    docs = _read(spark, sf_dir, "documents")
    transcripts = docs.select(
        F.format_string("conv-%010d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx").cast("int"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    # positional build: q4c exercises the stored-positions phrase
    # path; every other entry ignores the extra block columns
    build.build_index(spark, transcripts, root, store_positions=True)
    _ENGINE_CACHE[sf_dir] = root
    return root


def _engine_bm25(spark: SparkSession, sf_dir: str, terms, k=10,
                 mode="or") -> DataFrame:
    from .query import SearchEngine
    root = _engine_root(spark, sf_dir)
    eng = SearchEngine(spark, root)
    top = eng.bm25_topk(terms, k=k, mode=mode, use_wand=True)
    # map engine doc ids back to the original documents.doc_id
    mapping = eng.docs.select(
        F.col("doc_id").alias("_eid"),
        F.regexp_replace("conv_id", "conv-", "").cast("long").alias("orig_id"))
    return (
        top.join(mapping, top.doc_id == mapping._eid)
        .select(F.col("orig_id").alias("doc_id"),
                F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# the fixed batch the q11 contract entry scores — shared terms across
# queries on purpose (the batch plan decodes each term once)
_BATCH_QUERIES = {
    "qa": ["spark", "vector"],
    "qb": ["window"],
    "qc": ["spark", "window", "fast"],
}


def _engine_bm25_batch(spark: SparkSession, sf_dir: str, k=10) -> DataFrame:
    """B queries in ONE plan via ``bm25_topk_batch`` (amortizes the
    per-query job floor; see query.py batch section)."""
    from .query import SearchEngine
    root = _engine_root(spark, sf_dir)
    eng = SearchEngine(spark, root)
    top = eng.bm25_topk_batch(_BATCH_QUERIES, k=k)
    mapping = eng.docs.select(
        F.col("doc_id").alias("_eid"),
        F.regexp_replace("conv_id", "conv-", "").cast("long").alias("orig_id"))
    return (
        top.join(mapping, top.doc_id == mapping._eid)
        .select("query_id", F.col("orig_id").alias("doc_id"),
                F.round("score", 4).alias("score"))
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def _map_orig_ids(eng, res: DataFrame) -> DataFrame:
    """Engine doc ids → the original documents.doc_id (dedup winners)."""
    mapping = eng.docs.select(
        F.col("doc_id").alias("_eid"),
        F.regexp_replace("conv_id", "conv-", "").cast("long").alias("orig_id"))
    return (res.join(mapping, res.doc_id == mapping._eid)
            .select(F.col("orig_id").alias("doc_id")).orderBy("doc_id"))


def _engine_boolean(spark: SparkSession, sf_dir: str, terms, mode) -> DataFrame:
    from .query import SearchEngine
    root = _engine_root(spark, sf_dir)
    eng = SearchEngine(spark, root)
    return _map_orig_ids(eng, eng.search(terms, mode, log=False))


def _engine_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(spark OR vector) AND join — through SearchEngine.search_complex
    (reference index.py:413-429), not a SQL re-expression."""
    from .query import ComplexRequest, SearchEngine, SearchRequest
    root = _engine_root(spark, sf_dir)
    eng = SearchEngine(spark, root)
    req = ComplexRequest(SearchRequest(["spark", "vector"], "or"),
                         SearchRequest(["join"], "or"), "and")
    return _map_orig_ids(eng, eng.search_complex(req, log=False))


def _engine_frequency(spark: SparkSession, sf_dir: str, prefix: str,
                      k: int) -> DataFrame:
    """Q7 through the real engine: seed the query log with the first
    whitespace token of each document with doc_id < 200 (deterministic,
    data-derived — NOT a literal fixture), fold the log into token_freq
    (Q9 aggregation), then top-k by frequency under the prefix via the
    token_dict decomposed-prefix scan. Seeding is idempotent: it only
    runs while the memoized index root's log is empty."""
    from .query import SearchEngine
    root = _engine_root(spark, sf_dir)
    eng = SearchEngine(spark, root)
    if eng._last_log_seq() == 0:
        toks = (_read(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 200)
                .select(F.element_at(ws_tokens(F.col("text")), 1)
                        .alias("token")))
        eng.log_query_tokens(toks)
        eng.aggregate_frequency()
    return eng.search_by_frequency_df(prefix, k)


_DUCK_BM25 = """
WITH uniq AS (
  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
),
base AS (
  SELECT doc_id, {toks} AS toks FROM uniq
),
dl AS (SELECT doc_id, greatest(len(toks), 1) AS dl FROM base),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({terms}) GROUP BY doc_id, term),
stats AS (SELECT (SELECT count(*) FROM uniq) AS n,
                 (SELECT avg(dl) FROM dl) AS avgdl),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
          WHERE term IN ({terms}) GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id{having}
)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# contract entries
# ---------------------------------------------------------------------------

def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: Dict[str, Callable] = {}

    # -- scans / gets (S5-S8, SURVEY §2.1) --------------------------------
    q["s5_point_get"] = lambda s, d: (
        _read(s, d, "documents").filter(F.col("doc_id") == 42)
        .select("doc_id", "text", "lang"))
    q["s6_full_scan_stats"] = lambda s, d: (
        _read(s, d, "documents").agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("n_chars").alias("total_chars")))
    q["s7_range_scan"] = lambda s, d: (
        _read(s, d, "documents")
        .filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
        .select("doc_id", "source", "n_chars").orderBy("doc_id"))
    q["s8_multi_get"] = lambda s, d: (
        _read(s, d, "documents")
        .filter(F.col("doc_id").isin([10, 15, 20, 999999]))
        .select("doc_id", "lang").orderBy("doc_id"))

    # -- log scans (S11/S12 over events) -----------------------------------
    q["s11_log_range_scan"] = lambda s, d: (
        _read(s, d, "events")
        .filter((F.col("ts") >= "2024-01-02 00:00:00")
                & (F.col("ts") < "2024-01-03 00:00:00"))
        .select("event_id", "user_id", "event_type").orderBy("event_id"))
    q["s12_log_head_tail"] = lambda s, d: (
        _read(s, d, "events").agg(
            F.min("event_id").alias("first_seq"),
            F.max("event_id").alias("last_seq"),
            F.count("*").alias("n_entries")))

    # -- build-path operators (B1-B3) ---------------------------------------
    def b1(s, d):
        from .build import rank
        docs = (_read(s, d, "documents")
                .select(F.col("doc_id").alias("orig_id"), "source"))
        ranked = rank(docs, ("source", "orig_id"))
        res = (ranked.df.select(F.col("orig_id").alias("doc_id"),
                                F.col("doc_id").alias("assigned_id"))
               .orderBy("doc_id"))
        # pin the (small) result, then release the range-partitioned
        # intermediate so repeated contract runs in one process don't
        # leak block-manager entries (eager checkpoint = safe to
        # unpersist: the result no longer depends on the cached lineage)
        res = res.localCheckpoint(eager=True)
        ranked.release()
        return res
    q["b1_doc_id_assignment"] = b1

    def b2(s, d):
        from .ops.dedup import exact_dedup
        return (exact_dedup(_read(s, d, "documents"))
                .select("doc_id", "dup_count").orderBy("doc_id"))
    q["b2_dedup_keep_first"] = b2

    q["b3_posting_aggregate"] = lambda s, d: (
        _exploded_terms(s, d).groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"),
             F.count("*").alias("total_tf"),
             F.min("doc_id").alias("first_doc_id"),
             F.max("doc_id").alias("last_doc_id"))
        .filter(F.col("df") >= 10))
    q["b3_posting_rows"] = lambda s, d: (
        _exploded_terms(s, d).filter(F.col("term").isin(["spark", "vector", "window"]))
        .groupBy("term", "doc_id").agg(F.count("*").alias("tf")))

    # -- boolean search through the REAL engine (Q2/Q3) ---------------------
    q["q2_or_search_engine"] = lambda s, d: _engine_boolean(
        s, d, ["spark", "vector"], "or")
    q["q3_and_search_engine"] = lambda s, d: _engine_boolean(
        s, d, ["spark", "vector", "window"], "and")

    # -- phrase (Q4) through the REAL engine: AND + ordered
    # first-occurrence over docs.first_pos (reference index.py:432-448)
    q["q4_phrase_ordered"] = lambda s, d: _engine_boolean(
        s, d, ["fast", "window"], "phrase")

    # -- contiguous phrase (EXTENSION beyond the reference's
    # first-occurrence PHRASE): AND-candidates + adjacency verify
    def q4b(s, d, use_positions=False):
        from .query import SearchEngine
        eng = SearchEngine(s, _engine_root(s, d))
        return _map_orig_ids(eng, eng.search_phrase_contiguous(
            ["fast", "window"], use_positions=use_positions))
    q["q4b_phrase_contiguous"] = q4b

    # -- contiguous phrase from STORED positional postings (same
    # semantics, the store_positions=True index path)
    q["q4c_phrase_positions"] = lambda s, d: q4b(s, d, use_positions=True)

    # -- complex search (Q5) through the REAL engine: recursive set algebra
    q["q5_complex_search"] = _engine_complex

    # -- suggestions (Q6) through the REAL engine: token_dict
    # decomposed-prefix range scan (replaces the reference trie walk)
    def q6(s, d):
        from .query import SearchEngine
        eng = SearchEngine(s, _engine_root(s, d))
        return eng.search_suggestions_df("s")
    q["q6_prefix_suggestions"] = q6

    # -- frequency (Q7) through the REAL engine: seeded query log →
    # incremental aggregation → prefix top-k (trie.py:200-216 surface)
    q["q7_topk_frequency"] = lambda s, d: _engine_frequency(s, d, "s", 5)

    # -- incremental aggregation (Q9) ----------------------------------------
    q["q9_incremental_agg"] = lambda s, d: (
        _read(s, d, "events").filter(F.col("event_id") > 500)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total")))

    # -- BM25 top-k through the REAL engine (Q10, the flagship) -------------
    q["q10_bm25_topk_engine"] = lambda s, d: _engine_bm25(
        s, d, ["spark", "vector"], k=10)
    q["q10_bm25_single_term"] = lambda s, d: _engine_bm25(s, d, ["window"], k=10)
    # conjunctive scoring: only docs containing EVERY query term rank
    q["q10_bm25_and_mode"] = lambda s, d: _engine_bm25(
        s, d, ["spark", "vector"], k=10, mode="and")
    # batched multi-query BM25: B queries scored in ONE plan
    q["q11_bm25_batch"] = lambda s, d: _engine_bm25_batch(s, d, k=10)

    # -- counters / windows / sorts (C5, §2.6) -------------------------------
    q["c5_counter_topk"] = lambda s, d: (
        _read(s, d, "events").groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id")).limit(3))

    def window_running(s, d):
        from pyspark.sql import Window
        w = (Window.partitionBy("user_id").orderBy("event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
        return (_read(s, d, "events").filter(F.col("user_id") < 5)
                .select("event_id", "user_id",
                        F.round(F.sum("value").over(w), 4).alias("running")))
    q["w1_window_running_sum"] = window_running

    def rollup_rev(s, d):
        li = _read(s, d, "lineitem")
        return (li.rollup("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum(F.col("l_extendedprice")
                                   * (1 - F.col("l_discount"))), 2).alias("revenue"),
                     F.count("*").alias("n")))
    q["a1_rollup_revenue"] = rollup_rev

    def join_nation_rev(s, d):
        o = _read(s, d, "orders")
        c = _read(s, d, "customer")
        n = _read(s, d, "nation")
        return (o.join(c, o.o_custkey == c.c_custkey)
                .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                .groupBy("n_name")
                .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                     F.count("*").alias("n_orders")))
    q["j1_join_nation_revenue"] = join_nation_rev

    # -- dedup family (training-data ops) ------------------------------------
    def word_jaccard(s, d):
        from .ops.dedup import shingle_pairs_jaccard
        docs = _spread(_read(s, d, "documents").filter(F.col("doc_id") < 40))
        return shingle_pairs_jaccard(docs, n=1, threshold=0.3)
    q["d1_word_jaccard_pairs"] = word_jaccard

    def ngram_jaccard(s, d):
        from .ops.dedup import shingle_pairs_jaccard
        docs = _spread(_read(s, d, "documents").filter(F.col("doc_id") < 80))
        return shingle_pairs_jaccard(docs, n=3, threshold=0.01)
    q["d2_ngram_jaccard_pairs"] = ngram_jaccard

    def minhash_sig(s, d):
        from .ops.dedup import minhash_signatures
        docs = _spread(_read(s, d, "documents").filter(F.col("doc_id") < 50))
        return minhash_signatures(docs, n=3, n_hashes=2).orderBy("id")
    q["d3_minhash_signatures"] = minhash_sig

    def minhash_lsh(s, d):
        from .ops.dedup import minhash_lsh_pairs
        docs = _spread(_read(s, d, "documents"))
        return minhash_lsh_pairs(docs, n=3, n_hashes=16, bands=8,
                                 verify_threshold=0.5)
    q["d4_minhash_lsh_pairs"] = minhash_lsh  # rows-only (LSH banding)

    def simhash_pairs(s, d):
        from .ops.dedup import simhash_near_pairs
        docs = _spread(_read(s, d, "documents"))
        return simhash_near_pairs(docs, max_hamming=3)
    q["d5_simhash_pairs"] = simhash_pairs

    # -- similarity search ----------------------------------------------------
    def cos_topk(s, d):
        emb = _read(s, d, "embeddings")
        qv = F.col("embedding").cast("array<double>")
        qrow = emb.filter(F.col("vec_id") == 7).select(qv.alias("qv"))
        dot = F.aggregate(F.zip_with(qv, F.col("qv"), lambda x, y: x * y),
                          F.lit(0.0), lambda a, b: a + b)
        nv = F.sqrt(F.aggregate(F.zip_with(qv, qv, lambda x, y: x * y),
                                F.lit(0.0), lambda a, b: a + b))
        nq = F.sqrt(F.aggregate(F.zip_with(F.col("qv"), F.col("qv"),
                                           lambda x, y: x * y),
                                F.lit(0.0), lambda a, b: a + b))
        return (emb.crossJoin(F.broadcast(qrow))
                .select(F.col("vec_id").alias("id"),
                        F.round(dot / (nv * nq), 4).alias("cos"))
                .orderBy(F.desc("cos"), F.asc("id")).limit(10))
    q["v1_cosine_topk"] = cos_topk

    def ann_pairs(s, d):
        from .ops.similarity import ann_lsh_pairs
        emb = _spread(_read(s, d, "embeddings"))
        dim = len(emb.select("embedding").first()["embedding"])
        # threshold 0.25: the synthetic embeddings' max pairwise cosine
        # is ~0.51 (p99 ~0.29) — 0.9 returns zero rows (vacuous)
        return ann_lsh_pairs(emb, dim=dim, threshold=0.25)
    q["v2_ann_lsh_pairs"] = ann_pairs

    def ivf(s, d):
        from .ops.similarity import ivf_topk
        emb = _spread(_read(s, d, "embeddings"))
        qv = emb.filter(F.col("vec_id") == 7).first()["embedding"]
        return ivf_topk(emb, [float(x) for x in qv], k=5)
    q["v3_ivf_topk"] = ivf

    # -- text analysis ---------------------------------------------------------
    q["t1_token_counts"] = lambda s, d: (
        with_token_counts(_read(s, d, "documents")
                          .filter(F.col("doc_id") < 100))
        .select("doc_id", "n_tokens_ws", "n_chars_").orderBy("doc_id"))

    def lang_id(s, d):
        return (with_lang_id(_read(s, d, "documents"))
                .groupBy("lang_pred").agg(F.count("*").alias("n")))
    q["t2_lang_id_counts"] = lang_id  # rows-only (heuristic)

    def quality(s, d):
        return (with_quality_score(_read(s, d, "documents"))
                .filter(F.col("doc_id") < 50)
                .select("doc_id", "quality_score").orderBy("doc_id"))
    q["t3_quality_scores"] = quality  # rows-only (composite heuristic)

    q["t4_fingerprint"] = lambda s, d: (
        with_fingerprint(_read(s, d, "documents")
                         .filter(F.col("doc_id") < 100))
        .select("doc_id", "fp_norm").orderBy("doc_id"))

    # -- multimodal plumbing (m1): binary payload column → Arrow-batched
    # feature extraction via the real mapInPandas decode stage (the
    # decode itself is the documented deterministic stub — sha256-derived
    # features — so the whole pipeline is value-checkable in SQL)
    def media_features(s, d):
        from .ops.multimodal import extract_features
        docs = _read(s, d, "documents").filter(F.col("doc_id") < 60)
        media = docs.select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 3 == 0, "image")
             .when(F.col("doc_id") % 3 == 1, "audio")
             .otherwise("video").alias("kind"),
            F.encode("text", "UTF-8").alias("payload"))
        feats = extract_features(media, decoder="fake")
        fsum = F.aggregate(F.col("feature").cast("array<double>"),
                           F.lit(0.0), lambda a, b: a + b)
        return (feats.select(
            "media_id", "kind", "n_bytes",
            F.round(F.element_at("feature", 1) * 255).cast("int").alias("f0"),
            F.round(F.element_at("feature", 32) * 255).cast("int").alias("f31"),
            F.round(fsum * 255).cast("long").alias("fsum"))
            .orderBy("media_id"))
    q["m1_media_features"] = media_features

    return q


def oracle_sql() -> Dict[str, str]:
    terms_sv = "'spark', 'vector'"
    o: Dict[str, str] = {}

    o["s5_point_get"] = \
        "SELECT doc_id, text, lang FROM documents WHERE doc_id = 42"
    o["s6_full_scan_stats"] = (
        "SELECT count(*) AS n_docs, min(doc_id) AS min_id, "
        "max(doc_id) AS max_id, sum(n_chars)::BIGINT AS total_chars "
        "FROM documents")
    o["s7_range_scan"] = (
        "SELECT doc_id, source, n_chars FROM documents "
        "WHERE doc_id >= 100 AND doc_id < 120 ORDER BY doc_id")
    o["s8_multi_get"] = (
        "SELECT doc_id, lang FROM documents "
        "WHERE doc_id IN (10, 15, 20, 999999) ORDER BY doc_id")
    o["s11_log_range_scan"] = (
        "SELECT event_id, user_id, event_type FROM events "
        "WHERE ts >= '2024-01-02 00:00:00' AND ts < '2024-01-03 00:00:00' "
        "ORDER BY event_id")
    o["s12_log_head_tail"] = (
        "SELECT min(event_id) AS first_seq, max(event_id) AS last_seq, "
        "count(*) AS n_entries FROM events")
    o["b1_doc_id_assignment"] = (
        "SELECT doc_id, row_number() OVER (ORDER BY source, doc_id) "
        "AS assigned_id FROM documents ORDER BY doc_id")
    o["b2_dedup_keep_first"] = (
        "WITH g AS (SELECT min(doc_id) AS doc_id, count(*) AS dup_count "
        "FROM documents GROUP BY text) "
        "SELECT d.doc_id, g.dup_count FROM documents d JOIN g USING (doc_id) "
        "ORDER BY d.doc_id")
    o["b3_posting_aggregate"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents)
        SELECT term, count(DISTINCT doc_id) AS df, count(*) AS total_tf,
               min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id
        FROM tok GROUP BY term HAVING count(DISTINCT doc_id) >= 10"""
    o["b3_posting_rows"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents)
        SELECT term, doc_id, count(*) AS tf FROM tok
        WHERE term IN ('spark', 'vector', 'window') GROUP BY term, doc_id"""
    # boolean search engine oracles: dedup first (engine indexes deduped
    # corpus), then membership
    o["q2_or_search_engine"] = f"""
        WITH uniq AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM uniq)
        SELECT DISTINCT doc_id FROM tok WHERE term IN ({terms_sv}) ORDER BY doc_id"""
    o["q3_and_search_engine"] = f"""
        WITH uniq AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM uniq)
        SELECT doc_id FROM tok WHERE term IN ('spark', 'vector', 'window')
        GROUP BY doc_id HAVING count(DISTINCT term) = 3 ORDER BY doc_id"""
    # q4-q7 oracles replicate the ENGINE path (index over the deduped
    # corpus; whitespace tokens == engine tokens on this corpus — pure
    # lowercase-ASCII words pass the tokenizer through whole, so the
    # morph-stream first occurrences coincide with list_position)
    o["q4_phrase_ordered"] = f"""
        WITH uniq AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM uniq)
        SELECT doc_id FROM t
        WHERE coalesce(list_position(toks, 'fast'), 0) > 0
          AND coalesce(list_position(toks, 'window'), 0) > 0
          AND list_position(toks, 'fast') <= list_position(toks, 'window')
        ORDER BY doc_id"""
    o["q4b_phrase_contiguous"] = f"""
        WITH uniq AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM uniq)
        SELECT doc_id FROM t
        WHERE len(list_filter(range(1, len(toks)),
                              i -> toks[i] = 'fast' AND toks[i+1] = 'window')) > 0
        ORDER BY doc_id"""
    o["q4c_phrase_positions"] = o["q4b_phrase_contiguous"]
    o["q5_complex_search"] = f"""
        WITH uniq AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM uniq)
        SELECT DISTINCT doc_id FROM tok WHERE term IN ({terms_sv})
        INTERSECT
        SELECT DISTINCT doc_id FROM tok WHERE term = 'join'
        ORDER BY doc_id"""
    o["q6_prefix_suggestions"] = f"""
        WITH tok AS (SELECT unnest({_DUCK_TOKS}) AS term FROM documents)
        SELECT DISTINCT term FROM tok WHERE term LIKE 's%' ORDER BY term"""
    # q7: the engine seeds its query log with the first token of each
    # doc_id < 200 document, aggregates, then prefix top-k — freq(t) =
    # #docs<200 whose first token is t
    o["q7_topk_frequency"] = f"""
        WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
                   WHERE doc_id < 200),
        f AS (SELECT toks[1] AS term, count(*)::BIGINT AS freq FROM d
              WHERE toks[1] IS NOT NULL GROUP BY 1)
        SELECT term, freq FROM f WHERE term LIKE 's%'
        ORDER BY freq DESC, term LIMIT 5"""
    o["q9_incremental_agg"] = (
        "SELECT event_type, count(*) AS n, round(sum(value), 4) AS total "
        "FROM events WHERE event_id > 500 GROUP BY event_type")
    o["q10_bm25_topk_engine"] = _DUCK_BM25.format(
        toks=_DUCK_TOKS, terms=terms_sv, k=10, having="")
    o["q10_bm25_single_term"] = _DUCK_BM25.format(
        toks=_DUCK_TOKS, terms="'window'", k=10, having="")
    o["q10_bm25_and_mode"] = _DUCK_BM25.format(
        toks=_DUCK_TOKS, terms=terms_sv, k=10,
        having=" HAVING count(DISTINCT tf.term) = 2")
    # batch oracle: per-query BM25 blocks union-all'd under query_id —
    # the same per-query SQL the single entries use, so the batch plan
    # is checked against the already-trusted per-query semantics
    o["q11_bm25_batch"] = "SELECT * FROM (" + " UNION ALL ".join(
        f"SELECT '{qid}' AS query_id, doc_id, score FROM ("
        + _DUCK_BM25.format(
            toks=_DUCK_TOKS,
            terms=", ".join(f"'{t}'" for t in dict.fromkeys(ts)),
            k=10, having="")
        + ")"
        for qid, ts in _BATCH_QUERIES.items()
    ) + ") ORDER BY query_id, score DESC, doc_id"
    o["c5_counter_topk"] = (
        "SELECT user_id, count(*) AS cnt FROM events "
        "GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 3")
    o["w1_window_running_sum"] = (
        "SELECT event_id, user_id, round(sum(value) OVER ("
        "PARTITION BY user_id ORDER BY event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running "
        "FROM events WHERE user_id < 5")
    o["a1_rollup_revenue"] = (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
        "count(*) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")
    o["j1_join_nation_revenue"] = (
        "SELECT n_name, round(sum(o_totalprice), 2) AS revenue, "
        "count(*) AS n_orders FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name")

    _duck_shingles = (
        "CASE WHEN len(toks) >= {n} THEN list_distinct(list_transform("
        "range(0, len(toks) - {nm1}), i -> {concat})) "
        "ELSE [array_to_string(toks, ' ')] END")
    sh3 = _duck_shingles.format(
        n=3, nm1=2, concat="toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]")
    sh1 = "list_distinct(toks)"

    def jaccard_sql(where, shingle_expr, threshold):
        return f"""
        WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents {where}),
        sh AS (SELECT doc_id, {shingle_expr} AS s FROM d),
        ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(inter::DOUBLE / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= {threshold}"""

    o["d1_word_jaccard_pairs"] = jaccard_sql("WHERE doc_id < 40", sh1, 0.3)
    o["d2_ngram_jaccard_pairs"] = jaccard_sql("WHERE doc_id < 80", sh3, 0.01)
    o["d3_minhash_signatures"] = f"""
        WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
                   WHERE doc_id < 50),
        sh AS (SELECT doc_id, {sh3} AS s FROM d),
        ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh)
        SELECT doc_id AS id,
          min(('0x' || substr(md5('s0:' || shingle), 1, 15))::BIGINT) AS mh0,
          min(('0x' || substr(md5('s1:' || shingle), 1, 15))::BIGINT) AS mh1
        FROM ex GROUP BY doc_id ORDER BY id"""
    # d4: the whole MinHash-LSH pipeline is md5-based → fully
    # SQL-expressible; bands of 2 hashes each (16 hashes / 8 bands),
    # candidate = same band signature, verified with exact 3-gram Jaccard
    mh_cols = ",\n          ".join(
        f"min(('0x' || substr(md5('s{i}:' || shingle), 1, 15))::BIGINT) AS mh{i}"
        for i in range(16))
    band_rows = ",\n            ".join(
        f"(id, {b}, md5({b} || ',' || mh{2*b}::VARCHAR || ',' || mh{2*b+1}::VARCHAR))"
        for b in range(8))
    o["d4_minhash_lsh_pairs"] = f"""
        WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, {sh3} AS s FROM d),
        ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        sig AS (SELECT doc_id AS id,
          {mh_cols}
          FROM ex GROUP BY doc_id),
        bands AS (
          SELECT id, b.band_no, b.bsig FROM sig,
          LATERAL (VALUES {band_rows}) AS b(id2, band_no, bsig)
          WHERE b.id2 = sig.id),
        cands AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band_no = b.band_no AND a.bsig = b.bsig AND a.id < b.id),
        sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          JOIN cands c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
          GROUP BY 1, 2)
        SELECT i.id_a, i.id_b,
               round(i.i::DOUBLE / (sa.n_sh + sb.n_sh - i.i), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.i::DOUBLE / (sa.n_sh + sb.n_sh - i.i) >= 0.5"""
    # d5: SimHash is md5-based and the pigeonhole banding covers all 60
    # bits, so the op's result is EXACTLY all pairs at Hamming ≤ 3 —
    # expressible as all-pairs over SQL-computed signatures
    sh2 = _duck_shingles.format(n=2, nm1=1,
                                concat="toks[i+1] || ' ' || toks[i+2]")
    o["d5_simhash_pairs"] = f"""
        WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, {sh2} AS s FROM d),
        ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS hv
              FROM ex),
        v AS (SELECT doc_id, r.range AS j,
                     sum(CASE WHEN (hv >> r.range) & 1 = 1
                              THEN 1 ELSE -1 END) AS vote
              FROM h CROSS JOIN range(60) r GROUP BY doc_id, r.range),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN vote > 0 THEN (1::BIGINT << j)
                                ELSE 0 END)::BIGINT AS simhash
                FROM v GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

    # v2/v3: md5-parity hyperplane weights — identical expression to
    # konlspark.ops.similarity._hyperplane_sign
    def _duck_bit(p, dim):
        return (f"CASE WHEN list_dot_product(v, list_transform(range({dim}),"
                f" i -> CASE WHEN ('0x'||substr(md5('{p}:'||i),1,1))::INT % 2"
                f" = 1 THEN 1.0 ELSE -1.0 END)) >= 0 THEN 1 ELSE 0 END")

    bit_cols = ",\n          ".join(
        f"{_duck_bit(p, 64)} AS bit{p}" for p in range(16))
    band_cols = ", ".join(
        "(" + " || ".join((f"bit{b*4+r}::VARCHAR" if r == 0 else f"bit{b*4+r}")
                          for r in range(4)) + f") AS b{b}"
        for b in range(4))
    band_match = " OR ".join(f"(a.b{b} = b.b{b})" for b in range(4))
    o["v2_ann_lsh_pairs"] = f"""
        WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        bits AS (SELECT id, v,
          {bit_cols}
          FROM e),
        sig AS (SELECT id, {band_cols} FROM bits),
        cands AS (SELECT a.id AS id_a, b.id AS id_b
                  FROM sig a JOIN sig b ON a.id < b.id AND ({band_match})),
        n AS (SELECT id, list_transform(v, x -> x /
                greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv FROM e)
        SELECT c.id_a, c.id_b,
               round(list_dot_product(na.nv, nb.nv), 6) AS cos
        FROM cands c
        JOIN n na ON na.id = c.id_a
        JOIN n nb ON nb.id = c.id_b
        WHERE round(list_dot_product(na.nv, nb.nv), 6) >= 0.25"""

    cell_bits = ",\n          ".join(
        f"{_duck_bit(p, 64)} AS bit{p}" for p in range(4))
    o["v3_ivf_topk"] = f"""
        WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        bits AS (SELECT id, v,
          {cell_bits}
          FROM e),
        c AS (SELECT id, v,
                     (bit0::VARCHAR || bit1 || bit2 || bit3) AS cell FROM bits),
        q AS (SELECT v AS qv, cell AS qcell FROM c WHERE id = 7)
        SELECT c.id,
               round(list_dot_product(c.v, q.qv)
                     / (greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12)
                        * greatest(sqrt(list_dot_product(q.qv, q.qv)), 1e-12)),
                     6) AS cos
        FROM c CROSS JOIN q
        WHERE c.cell = q.qcell
        ORDER BY cos DESC, id LIMIT 5"""

    # m1: the multimodal stub's features are sha256-derived bytes —
    # byte i of sha256(payload) is hex chars [2i+1, 2i+2]
    o["m1_media_features"] = """
        WITH m AS (
          SELECT doc_id AS media_id,
                 CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                      ELSE 'video' END AS kind,
                 sha256(text) AS h,
                 octet_length(encode(text))::BIGINT AS n_bytes
          FROM documents WHERE doc_id < 60)
        SELECT media_id, kind, n_bytes,
               ('0x' || substr(h, 1, 2))::INT AS f0,
               ('0x' || substr(h, 63, 2))::INT AS f31,
               list_sum(list_transform(range(0, 32),
                 i -> ('0x' || substr(h, 2*i+1, 2))::BIGINT))::BIGINT AS fsum
        FROM m ORDER BY media_id"""

    o["v1_cosine_topk"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)
        SELECT vec_id AS id,
               round(list_dot_product(embedding::DOUBLE[], qv)
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cos
        FROM embeddings, q
        ORDER BY cos DESC, id LIMIT 10"""
    # t2/t3 replicate konlspark.ops.textstats heuristics verbatim in SQL
    en = "['the','a','and','of','to','in','is','it','for','on']"
    es = "['el','la','de','que','y','en','un','es','los','del']"
    de = "['der','die','das','und','ist','von','mit','ein','zu','den']"
    o["t2_lang_id_counts"] = f"""
        WITH t AS (
          SELECT {_DUCK_TOKS} AS toks,
                 len(regexp_extract_all(text, '[가-힣]'))::DOUBLE
                   / greatest(length(text), 1) AS hangul,
                 text
          FROM documents),
        r AS (
          SELECT hangul,
            len(list_filter(toks, x -> list_contains({en}, x)))::DOUBLE
              / greatest(len(toks), 1) AS en_r,
            len(list_filter(toks, x -> list_contains({es}, x)))::DOUBLE
              / greatest(len(toks), 1) AS es_r,
            len(list_filter(toks, x -> list_contains({de}, x)))::DOUBLE
              / greatest(len(toks), 1) AS de_r
          FROM t)
        SELECT CASE WHEN hangul > 0.3 THEN 'ko'
                    WHEN en_r >= es_r AND en_r >= de_r AND en_r > 0 THEN 'en'
                    WHEN es_r >= de_r AND es_r > 0 THEN 'es'
                    WHEN de_r > 0 THEN 'de'
                    ELSE 'und' END AS lang_pred,
               count(*) AS n
        FROM r GROUP BY 1"""
    o["t3_quality_scores"] = f"""
        WITH t AS (
          SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents
          WHERE doc_id < 50),
        m AS (
          SELECT doc_id,
            greatest(len(toks), 1)::DOUBLE AS n_toks,
            greatest(length(text), 1)::DOUBLE AS n_chars,
            len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE AS n_punct,
            len(list_filter(toks, x -> list_contains({en}, x)))::DOUBLE AS n_stop,
            len(list_distinct(toks))::DOUBLE AS n_distinct,
            list_sum(list_transform(toks, x -> length(x)))::DOUBLE AS sum_len
          FROM t)
        SELECT doc_id, round(
            0.3 * (CASE WHEN n_toks >= 5 AND n_toks <= 100000
                        THEN 1.0 ELSE 0.0 END)
          + 0.2 * (CASE WHEN sum_len / n_toks >= 2 AND sum_len / n_toks <= 15
                        THEN 1.0 ELSE 0.0 END)
          + 0.2 * (CASE WHEN n_punct / n_chars <= 0.3 THEN 1.0 ELSE 0.0 END)
          + 0.15 * least(n_stop / n_toks * 5, 1.0)
          + 0.15 * (n_distinct / n_toks), 6) AS quality_score
        FROM m ORDER BY doc_id"""
    o["t1_token_counts"] = f"""
        SELECT doc_id, len({_DUCK_TOKS})::INT AS n_tokens_ws,
               length(text)::INT AS n_chars_
        FROM documents WHERE doc_id < 100 ORDER BY doc_id"""
    o["t4_fingerprint"] = (
        "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) "
        "AS fp_norm FROM documents WHERE doc_id < 100 ORDER BY doc_id")
    return o
