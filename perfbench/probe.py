"""Traced-run layer probe and per-layer metric assembly.

``layer_probe`` runs after the timed window of a traced run, on the
workload's last index: one point and one scan request (``build_bulk`` has
no query window of its own), the Spark-free tokenizer and codec measurements, one
``ingest`` cycle (append, delete, refresh, reads on the mutated snapshot,
compact) mirrored into the oracle, and driver-side ``IndexCatalog`` and
engine lookups. ``per_layer`` joins the recorded spans to Spark's event
log and names every per-layer metric.
"""

from __future__ import annotations

import os
import statistics
import time

import layers
import tracing
from run import (K, RARE, TURNS_PER_CONV, MAX_WORDS, MIN_WORDS,
                 oracle_answer, query_pool, request_terms, same_result)


# point reads on the mutated snapshot, and the requests of build_bulk's
# query-layer probe: a few of each keep a traced run within a minute or so
# of its untraced twin
READ_KINDS = ("bm25_2term", "search_and", "suggest")
PROBE_KINDS = ("bm25_2term", "bm25_head_exact")


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _timed_ms(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(ts)


def ingest_cycle(b, root: str, ix, rng) -> None:
    """append -> delete -> refresh -> reads -> compact -> refresh -> read,
    each mutation mirrored into the oracle and every read checked."""
    from konlspark import corpus, ingest
    from konlspark.query import SearchEngine
    tr, spark = b.tracer, b.spark
    n = b.shape["batch_turns"]
    # a new seed per batch: dedup is by text hash, so a repeated seed
    # would turn the whole batch into conflicts
    pdf = corpus.make_transcripts(n, turns_per_conv=TURNS_PER_CONV,
                                  seed=int(rng.integers(1 << 31)),
                                  min_words=MIN_WORDS, max_words=MAX_WORDS)
    pdf["conv_id"] = "ingest-" + pdf["conv_id"]
    batch = corpus.spark_transcripts(spark, pdf)
    with tr.span("append_batch", req="ingest:append", cls="ingest"):
        t0 = time.perf_counter()
        res = ingest.append_batch(spark, root, batch)
        append_s = time.perf_counter() - t0
    want = sum(1 for t in pdf.sort_values(["conv_id", "turn_idx"])["text"]
               if ix.index(t)[0] == "success")
    b.check("ingest:append_indexed", res["indexed"] == want)

    live = sorted(ix.docs)
    victims = [int(live[i]) for i in rng.choice(len(live), 20,
                                                replace=False)]
    with tr.span("delete_docs", req="ingest:delete", cls="ingest"):
        t0 = time.perf_counter()
        res = ingest.delete_docs(spark, root, victims)
        delete_s = time.perf_counter() - t0
    for v in victims:
        ix.delete(v)
    b.check("ingest:delete_count", res["deleted"] == len(victims))

    eng = SearchEngine(spark, root)
    refresh_ms = [_span_ms(tr, "refresh", "ingest:refresh", eng.refresh)]
    b.probe["ingest.snapshot_parts"] = sum(
        len(v) for v in eng.manifest["tables"].values())
    pool = [r for r in query_pool(ix, rng) if r["kind"] in READ_KINDS]
    reads = []
    for req in pool:
        got, ms = b.run_request(eng, req, f"mutated:{req['kind']}")
        b.check(f"mutated:{req['kind']}",
                same_result(req, got, oracle_answer(ix, req)))
        reads.append(ms)

    with tr.span("compact", req="ingest:compact", cls="ingest"):
        t0 = time.perf_counter()
        ingest.compact(spark, root)
        compact_s = time.perf_counter() - t0
    refresh_ms.append(_span_ms(tr, "refresh", "ingest:refresh2",
                               eng.refresh))
    req = pool[0]
    got, _ = b.run_request(eng, req, f"compacted:{req['kind']}")
    b.check(f"compacted:{req['kind']}",
            same_result(req, got, oracle_answer(ix, req)))
    b.check("compacted:n_docs", eng.n_docs == len(ix.docs))

    b.probe.update({
        "ingest.append_s": append_s, "ingest.delete_s": delete_s,
        "ingest.compact_s": compact_s,
        "ingest.append_turns_per_s": n / append_s,
        "ingest.read_p50_ms": statistics.median(reads),
        "query.refresh_ms": statistics.median(refresh_ms),
    })


def _span_ms(tr, name, req, fn) -> float:
    with tr.span(name, req=req, cls="refresh"):
        t0 = time.perf_counter()
        fn()
        return (time.perf_counter() - t0) * 1000.0


def layer_probe(b, state: dict, rng) -> None:
    from konlspark.catalog import IndexCatalog
    from konlspark.query import SearchEngine
    from pyspark.sql import functions as F
    root, ix = state["root"], state["ix"]
    eng = state.get("eng") or SearchEngine(b.spark, root)

    pool = state.get("pool")
    if pool is None:
        # build_bulk has no query window: one request of each class gives
        # its query layer
        pool = [r for r in query_pool(ix, rng) if r["kind"] in PROBE_KINDS]
        for req in pool:
            got, ms = b.run_request(eng, req, f"probe:{req['kind']}")
            b.check(f"probe:{req['kind']}",
                    same_result(req, got, oracle_answer(ix, req)))
            b.probe.setdefault(f"_{req['cls']}_ms", []).append(ms)
    b.probe_pool = pool
    terms = sorted({t for r in pool for t in request_terms(r)})
    b.probe_df = {r["term"]: r["df"] for r in eng.token_dict
                  .filter(F.col("term").isin(terms))
                  .select("term", "df").collect()}
    b.probe["query.term_lookup_ms"] = _timed_ms(
        lambda: [t in eng for t in terms[:1]], 5)

    b.probe["tokenizer.docs_per_s"] = layers.tokenizer_docs_per_s(
        b.texts[:2000], min_s=1.0)
    b.probe.update(layers.codec_rates(root, min_s=0.5))

    cat = IndexCatalog(root)
    b.probe["catalog.read_manifest_ms"] = _timed_ms(cat.read_manifest, 20)
    manifest = cat.read_manifest()
    scratch = IndexCatalog(os.path.join(b.run_dir, "catalog_probe"))
    b.probe["catalog.commit_ms"] = _timed_ms(
        lambda: scratch.commit_manifest(manifest), 20)

    ingest_cycle(b, root, ix, rng)


def _req_key(span: dict) -> str:
    """Request identity across repeats on one snapshot: the request id
    without its warm-up, round or probe prefix."""
    tag, _, kind = span["req"].partition(":")
    if tag.startswith(("warmup", "round", "probe", "build")):
        tag = ""
    return f"{tag}:{kind}"


def per_layer(b, run_dir: str, untraced, traced_e2e: dict) -> dict:
    log = tracing.read_eventlog(os.path.join(run_dir, "eventlog"))
    spans = b.tracer.spans
    att = tracing.attribute(spans, log)
    tops = [s for s in spans if s["parent"] is None]
    out = {}

    def m(name, value, unit):
        out[name] = {"value": float(value), "unit": unit}

    m("session.start_s", b.session_s, "s")
    m("tokenizer.docs_per_s", b.probe["tokenizer.docs_per_s"], "1/s")
    for name, unit in (("codec.encode_postings_per_s", "1/s"),
                       ("codec.decode_postings_per_s", "1/s"),
                       ("codec.decode_ids_postings_per_s", "1/s"),
                       ("codec.bytes_per_posting", "B")):
        m(name, b.probe[name], unit)

    # build: the timed builds (build_bulk) or the setup build (query_mix)
    builds = [s for s in tops if s["cls"] == "build"
              and not s["req"].startswith("warmup")]
    phases = {}
    for _, manifest in b.builds:
        for k, v in manifest.get("build_phases", {}).items():
            phases.setdefault(k, []).append(v)
    for k in ("dedup_assign_ids", "tokenize_write_docs", "docs_stats",
              "write_postings_and_side_tables"):
        m(f"build.{k}_s", _median(phases.get(k, [])), "s")
    for key, name, unit in (("jobs", "jobs", "count"),
                            ("stages", "stages", "count"),
                            ("tasks", "tasks", "count"),
                            ("cpu_s", "executor_cpu_s", "s"),
                            ("shuffle_write_mb", "shuffle_write_mb", "MB"),
                            ("input_mb", "input_mb", "MB"),
                            ("driver_ms", "driver_s", "s"),
                            ("max_task_skew", "max_task_skew", "1")):
        scale = 1e-3 if key == "driver_ms" else 1.0
        m(f"build.{name}", scale * _median(att[s["id"]][key] for s in builds),
          unit)
    m("build.turns_per_s", b.shape["turns"] / _median(
        w for w, _ in b.builds), "1/s")

    # query: per class, over every non-warm-up request of that class
    for cls in ("point", "scan"):
        reqs = [s for s in tops if s["cls"] == cls
                and not s["req"].startswith("warmup")]
        a = [att[s["id"]] for s in reqs]
        m(f"query.{cls}.jobs", _median(x["jobs"] for x in a), "count")
        m(f"query.{cls}.stages", _median(x["stages"] for x in a), "count")
        m(f"query.{cls}.tasks", _median(x["tasks"] for x in a), "count")
        m(f"query.{cls}.driver_ms", _median(x["driver_ms"] for x in a), "ms")
        m(f"query.{cls}.executor_ms", _median(x["executor_ms"] for x in a),
          "ms")
        m(f"query.{cls}.input_mb", _median(x["input_mb"] for x in a), "MB")
        m(f"query.{cls}.shuffle_mb", _median(
            x["shuffle_read_mb"] + x["shuffle_write_mb"] for x in a), "MB")
        touched = [sum(b.probe_df.get(t, 0) for t in request_terms(r))
                   for r in b.probe_pool if r["cls"] == cls]
        m(f"query.{cls}.postings_touched", _median(touched), "count")
        m(f"query.{cls}.p50_ms", _median(
            [r["ms"] for r in b.requests if r["cls"] == cls]
            or b.probe[f"_{cls}_ms"]), "ms")
    m("query.refresh_ms", b.probe["query.refresh_ms"], "ms")
    m("query.term_lookup_ms", b.probe["query.term_lookup_ms"], "ms")
    # stages whose task count differed between repeats of one request
    seen = {}
    for s in tops:
        if s["cls"] in ("point", "scan"):
            seen.setdefault(_req_key(s), []).append(
                att[s["id"]]["stage_tasks"])
    changes = 0
    for runs in seen.values():
        for i in range(max(len(r) for r in runs)):
            if len({r[i] if i < len(r) else None for r in runs}) > 1:
                changes += 1
    m("query.stage_task_count_changes", changes, "count")
    m("query.repeated_requests", sum(1 for r in seen.values()
                                     if len(r) > 1), "count")

    # ingest
    for op in ("append", "delete", "compact"):
        name = {"append": "append_batch", "delete": "delete_docs",
                "compact": "compact"}[op]
        a = [att[s["id"]] for s in tops if s["name"] == name]
        m(f"ingest.{op}_s", b.probe[f"ingest.{op}_s"], "s")
        m(f"ingest.{op}_jobs", _median(x["jobs"] for x in a), "count")
        m(f"ingest.{op}_shuffle_mb", _median(
            x["shuffle_read_mb"] + x["shuffle_write_mb"] for x in a), "MB")
    m("ingest.snapshot_parts", b.probe["ingest.snapshot_parts"], "count")
    m("ingest.append_turns_per_s", b.probe["ingest.append_turns_per_s"],
      "1/s")
    m("ingest.read_p50_ms", b.probe["ingest.read_p50_ms"], "ms")

    m("catalog.commit_ms", b.probe["catalog.commit_ms"], "ms")
    m("catalog.read_manifest_ms", b.probe["catalog.read_manifest_ms"], "ms")

    # tracing: overhead against the untraced run of the same workload,
    # and how much of each request's wall time spans and jobs account for
    base = (untraced or {}).get("request_p50_ms", {}).get("value")
    now = traced_e2e["request_p50_ms"]["value"]
    m("trace.overhead_pct", 100.0 * (now - base) / base if base else 0.0,
      "%")
    reqs = [s for s in tops if s["cls"] in ("point", "scan", "build")]
    m("trace.span_coverage_min", min(att[s["id"]]["coverage"]
                                     for s in reqs), "1")
    failed = sum(1 for _, ok in b.ops if not ok)
    m("oracle.failed_ops_ratio", failed / max(1, len(b.ops)), "1")
    return out
