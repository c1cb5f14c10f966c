"""konlspark benchmark: one closed-loop client against the public API.

Usage (from the repository root)::

    python3 perfbench/run.py --workload build_bulk --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 1
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0 --smoke

Every operation's result is compared with ``OracleIndex`` outside the
timed window. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries host context (steal %, load average) and the
per-class figures. See ``perfbench/README.md`` for the workloads and the
metric-to-layer table.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# corpus shape: seeded spark_make_transcripts turns of 10-60 words with a
# temporally clustered rare term on the first 2% of rows (bench.py's
# headline shape, scaled down: warm builds and queries cost about the
# same at 6k and 20k turns, being bound by per-job overhead, while the
# cold build of setup grows with the corpus)
SHAPES = {
    "full": {"turns": 8_000, "batch_turns": 500},
    "smoke": {"turns": 600, "batch_turns": 60},
}
MIN_WORDS, MAX_WORDS, TURNS_PER_CONV = 10, 60, 20
RARE = "topicmarker"
# The driver heap is sized to the workload, not the host: the factory's
# default (24g) does not fit small hosts, and a heap with room to spare
# lets G1 grow it by a different amount in every run (JVM peak RSS
# 1.1-1.7 GB at 4g, 1.03-1.06 GB at 1g on the 8k-turn corpus).
DRIVER_MEMORY = "1g"
SCORE_TOL = 2e-6  # bench.py's oracle-anchor tolerance on BM25 scores
K = 10

E2E = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("requests_per_s", "1/s"),
       ("request_p50_ms", "ms"), ("index_bytes_per_text_byte", "1")]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build_bulk", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum summed request time of the timed window")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus and no warm-up: checks the benchmark "
                         "itself, not the program's speed")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


# --------------------------------------------------------------------------
# oracle comparison
# --------------------------------------------------------------------------

def _same_topk(got, want) -> bool:
    g, w = dict(got), dict(want)
    return (len(got) == len(want) and g.keys() == w.keys()
            and all(abs(g[i] - w[i]) <= SCORE_TOL for i in w))


def same_result(req: dict, got, want) -> bool:
    op = req["op"]
    if op == "bm25":
        return _same_topk(got, want)
    if op == "batch":
        return got.keys() == want.keys() and all(
            _same_topk(got[q], want[q]) for q in want)
    if op == "search":
        return sorted(got) == want
    return got == want  # suggest


def oracle_answer(ix, req: dict):
    op = req["op"]
    if op == "bm25":
        return ix.bm25_topk(req["tokens"], k=K)
    if op == "batch":
        return {q: ix.bm25_topk(t, k=K) for q, t in req["queries"].items()}
    if op == "search":
        return ix.search(req["tokens"], req["mode"], log=False)
    return ix.search_suggestions(req["prefix"])


def request_terms(req: dict) -> set:
    if req["op"] == "batch":
        return {t for ts in req["queries"].values() for t in ts}
    return set(req.get("tokens", ()))


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

class Bench:
    """State of one run: session, tracer, corpus, oracle and the record of
    every operation attempted."""

    def __init__(self, args, t_start: float, run_dir: str):
        from tracing import HostContext, RssSampler, Tracer
        self.args = args
        self.t_start = t_start
        self.run_dir = run_dir
        self.shape = SHAPES["smoke" if args.smoke else "full"]
        self.tracer = Tracer(bool(args.trace))
        self.host = HostContext()
        self.rss = RssSampler().start()
        self.requests = []     # timed window: {"kind", "cls", "ms"}
        self.ops = []          # every checked operation: (name, ok)
        self.per_class = {}    # extra (unjudged) per-class figures
        self.builds = []       # (wall_s, manifest) of builds to report
        self.index_ratio = None
        self.setup_s = None
        self.probe = {}        # traced-only layer figures
        self.marks = {}        # setup step -> seconds since start
        self.spark = None

    # -- session and inputs ---------------------------------------------------
    def start_session(self) -> None:
        from konlspark.session import get_spark
        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        with self.tracer.span("get_spark", req="setup", cls="setup"):
            self.spark = get_spark("konlspark-perfbench", cores=cores,
                                   driver_memory=DRIVER_MEMORY)
        self.session_s = time.perf_counter() - t0
        self.mark("session")

    def mark(self, step: str) -> None:
        """Records when a setup step ended (context, not judged)."""
        self.marks[step] = time.perf_counter() - self.t_start

    def make_corpus(self) -> None:
        """Seeded corpus as a cached DataFrame, plus its (conv_id,
        turn_idx)-ordered texts for the oracle replay."""
        from konlspark import corpus
        n = self.shape["turns"]
        with self.tracer.span("spark_make_transcripts", req="setup",
                              cls="setup"):
            tdf = corpus.spark_make_transcripts(
                self.spark, n, turns_per_conv=TURNS_PER_CONV,
                seed=self.args.seed, min_words=MIN_WORDS,
                max_words=MAX_WORDS, cluster_token=RARE,
                cluster_rows=n // 50).cache()
            # sorted on the driver: a Spark orderBy costs a sampling job
            # and a shuffle in setup
            pdf = (tdf.select("conv_id", "turn_idx", "text").toPandas()
                   .sort_values(["conv_id", "turn_idx"]))
        self.tdf = tdf
        self.texts = list(pdf["text"])
        self.text_bytes = sum(len(t.encode("utf-8")) for t in self.texts)
        self.mark("corpus")

    def replay_oracle(self):
        """The exact corpus streamed into the oracle in (conv_id,
        turn_idx) order, as bench.py's anchor does."""
        from konlspark.oracle import OracleIndex
        ix = OracleIndex()
        for t in self.texts:
            ix.index(t)
        self.mark("oracle")
        return ix

    def fresh_root(self, name: str) -> str:
        root = os.path.join(self.run_dir, "idx", name)
        shutil.rmtree(root, ignore_errors=True)
        return root

    def build(self, root: str, req: str):
        from konlspark import build
        with self.tracer.span("build_index", req=req, cls="build"):
            t0 = time.perf_counter()
            manifest = build.build_index(self.spark, self.tdf, root)
            wall = time.perf_counter() - t0
        return wall, manifest

    # -- operations ------------------------------------------------------------
    def run_request(self, eng, req: dict, req_id: str):
        """One request through the public engine API; returns (result, ms)."""
        op, tr = req["op"], self.tracer
        t0 = time.perf_counter()
        with tr.span(req["kind"], req=req_id, cls=req["cls"]):
            if op == "suggest":
                with tr.span("search_suggestions"):
                    got = eng.search_suggestions(req["prefix"])
            else:
                with tr.span("plan"):
                    if op == "bm25":
                        df = eng.bm25_topk(req["tokens"], k=K,
                                           use_wand=req.get("use_wand", True))
                    elif op == "search":
                        df = eng.search(req["tokens"], req["mode"], log=False)
                    else:
                        df = eng.bm25_topk_batch(req["queries"], k=K)
                with tr.span("collect"):
                    rows = df.collect()
                if op == "bm25":
                    got = [(r["doc_id"], r["score"]) for r in rows]
                elif op == "search":
                    got = [r["doc_id"] for r in rows]
                else:
                    got = {}
                    for r in rows:
                        got.setdefault(r["query_id"], []).append(
                            (r["doc_id"], r["score"]))
                    for q in req["queries"]:
                        got.setdefault(q, [])
        return got, (time.perf_counter() - t0) * 1000.0

    def check(self, name: str, ok: bool) -> bool:
        self.ops.append((name, bool(ok)))
        if not ok:
            print(f"oracle mismatch: {name}", file=sys.stderr)
        return ok

    def setup_done(self) -> None:
        """Ends setup. Garbage left by setup is collected first, in the
        driver Python and the JVM, so no run starts its window in the
        middle of a collection cycle."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.setup_s = time.perf_counter() - self.t_start

    def close(self) -> None:
        """Stops the session and waits until the JVM and every Python
        worker it started have exited."""
        from pyspark import SparkContext
        from tracing import descendants
        gateway = SparkContext._gateway
        started = set(descendants(os.getpid())) - {os.getpid()}
        if self.spark is not None:
            self.spark.stop()
        self.peak_rss_mb = self.rss.stop()
        if gateway is not None:
            jvm = getattr(gateway, "proc", None)
            gateway.shutdown()
            if jvm is not None:
                jvm.stdin.close()  # the gateway JVM exits on stdin EOF
                jvm.wait(timeout=60)
        wait_until_ended(started, timeout_s=60)


def wait_until_ended(pids, timeout_s: float) -> None:
    """Waits until every process in ``pids`` has exited (a zombie counts
    as exited); raises if one outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                left.append(pid)
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {left}")
        time.sleep(0.1)


def index_bytes(root: str) -> int:
    """Bytes of the committed index (Hadoop's .crc side files excluded)."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.endswith(".crc"))
    return total


def query_pool(ix, rng) -> list:
    """One round of requests: a fixed composition of kinds in a seeded
    order. Terms are taken at fixed document-frequency ranks of the
    seeded corpus, so every seed asks for the same amount of work.
    ``point`` requests are bound by job count and driver planning;
    ``scan`` requests by posting decode and shuffle."""
    from konlspark import tokenizer
    from konlspark.fixtures.titles import TITLES
    by_df = sorted((t for t in ix.postings if t != RARE),
                   key=lambda t: (-len(ix.postings[t]), t))
    head, mid = by_df[:8], by_df[8:48]
    phrase = next([a, b] for title in TITLES
                  for a, b in zip(tokenizer.tokenize_with_order(title),
                                  tokenizer.tokenize_with_order(title)[1:])
                  if a != b and a in ix.postings and b in ix.postings)
    prefix = next(t for t in mid if tokenizer.is_hangul(t))[0]
    pairs = [(a, b) for a in range(8) for b in range(a + 1, 8)][:16]
    pool = [
        {"kind": "bm25_1term", "cls": "point", "op": "bm25",
         "tokens": [head[2]]},
        {"kind": "bm25_2term", "cls": "point", "op": "bm25",
         "tokens": [mid[5], mid[17]]},
        {"kind": "bm25_3term", "cls": "point", "op": "bm25",
         "tokens": [head[4], mid[9], mid[25]]},
        {"kind": "bm25_rare_head", "cls": "point", "op": "bm25",
         "tokens": [RARE, head[0]]},
        {"kind": "search_or", "cls": "point", "op": "search", "mode": "or",
         "tokens": [mid[3], mid[14]]},
        {"kind": "search_and", "cls": "point", "op": "search", "mode": "and",
         "tokens": [head[1], head[5]]},
        {"kind": "search_phrase", "cls": "point", "op": "search",
         "mode": "phrase", "tokens": phrase},
        {"kind": "suggest", "cls": "point", "op": "suggest",
         "prefix": prefix},
        {"kind": "bm25_head_exact", "cls": "scan", "op": "bm25",
         "tokens": [head[0], head[3], head[6]], "use_wand": False},
        {"kind": "bm25_batch16", "cls": "scan", "op": "batch",
         "queries": {f"q{i:02d}": [head[a], head[b]]
                     for i, (a, b) in enumerate(pairs)}},
    ]
    return [pool[i] for i in rng.permutation(len(pool))]


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

# Warm-up: query_mix runs one whole round of requests before its window.
# build_bulk times the session's first build, as a batch build job (one
# build per spark-submit) meets it; a warm-up build would cost a quarter of
# the run, which every run of a comparison must stay well under a minute
# to afford. Query timings still fall after one round (see README.md); the
# window sits at the same point of that curve in every run.


def build_probes(ix, rng) -> list:
    """Fixed probe set checked on every built index."""
    from konlspark import tokenizer
    head = max((t for t in ix.postings if t != RARE),
               key=lambda t: (len(ix.postings[t]), t))
    prefixes = sorted({t[0] for t in ix.postings if tokenizer.is_hangul(t)})
    return [
        {"kind": "probe_bm25_rare_head", "cls": "point", "op": "bm25",
         "tokens": [RARE, head]},
        {"kind": "probe_suggest", "cls": "point", "op": "suggest",
         "prefix": prefixes[int(rng.integers(len(prefixes)))]},
    ]


def check_index(b: Bench, root: str, manifest: dict, ix, probes,
                tag: str) -> None:
    from konlspark.query import SearchEngine
    b.check(f"{tag}:n_docs", manifest["n_docs"] == len(ix.docs))
    eng = SearchEngine(b.spark, root)
    for p in probes:
        got, _ = b.run_request(eng, p, f"{tag}:{p['kind']}")
        b.check(f"{tag}:{p['kind']}", same_result(p, got, p["want"]))


def build_bulk(b: Bench, rng) -> dict:
    """Repeated build_index over one corpus, each to a fresh root; the
    first build of the session opens the window."""
    b.start_session()
    b.make_corpus()
    ix = b.replay_oracle()
    probes = build_probes(ix, rng)
    for p in probes:
        p["want"] = oracle_answer(ix, p)
    b.setup_done()

    built, total_s = [], 0.0
    while total_s < b.args.seconds or not built:
        root = b.fresh_root(f"build{len(built)}")
        wall, manifest = b.build(root, f"build{len(built)}")
        total_s += wall
        b.requests.append({"kind": "build_index", "cls": "build",
                           "ms": wall * 1000.0})
        built.append((root, manifest))
        b.builds.append((wall, manifest))

    ratios = []
    for i, (root, manifest) in enumerate(built):
        check_index(b, root, manifest, ix, probes, f"build{i}")
        ratios.append(index_bytes(root) / b.text_bytes)
        if i < len(built) - 1:
            shutil.rmtree(root)
    b.index_ratio = statistics.median(ratios)
    b.per_class["build_turns_per_s"] = b.shape["turns"] / statistics.median(
        w for w, _ in b.builds)
    return {"root": built[-1][0], "ix": ix}


# two rounds: the round time of one run varies by about 10% between
# rounds, mostly in the scan requests; a second round halves its weight
# in requests_per_s for 8-10 s more per run
WINDOW_ROUNDS = 2


def query_mix(b: Bench, rng) -> dict:
    """A seeded round of point and scan requests over one index built in
    setup; whole rounds run until the window is full, and at least
    ``WINDOW_ROUNDS`` of them."""
    from konlspark.query import SearchEngine
    b.start_session()
    b.make_corpus()
    root = b.fresh_root("base")
    wall, manifest = b.build(root, "setup-build")
    b.mark("base_build")
    b.builds.append((wall, manifest))
    b.index_ratio = index_bytes(root) / b.text_bytes
    ix = b.replay_oracle()
    b.check("base:n_docs", manifest["n_docs"] == len(ix.docs))
    pool = query_pool(ix, rng)
    for req in pool:
        req["want"] = oracle_answer(ix, req)
    eng = SearchEngine(b.spark, root)

    def one_round(tag: str, record: bool) -> None:
        for req in pool:
            got, ms = b.run_request(eng, req, f"{tag}:{req['kind']}")
            b.check(f"{tag}:{req['kind']}", same_result(req, got,
                                                       req["want"]))
            if record:
                b.requests.append({"kind": req["kind"], "cls": req["cls"],
                                   "ms": ms})

    if not b.args.smoke:
        one_round("warmup", False)
        b.mark("warmup")
    b.setup_done()

    round_s = []
    rounds = 1 if b.args.smoke else WINDOW_ROUNDS
    while sum(round_s) < b.args.seconds or len(round_s) < rounds:
        n0 = len(b.requests)
        one_round(f"round{len(round_s)}", True)
        round_s.append(sum(r["ms"] for r in b.requests[n0:]) / 1000.0)
    b.per_class["round_s"] = round_s
    for cls in ("point", "scan"):
        b.per_class[f"{cls}_p50_ms"] = statistics.median(
            r["ms"] for r in b.requests if r["cls"] == cls)
    b.per_class["kind_ms"] = {r["kind"]: r["ms"] for r in b.requests}
    return {"root": root, "ix": ix, "pool": pool, "eng": eng}


WORKLOADS = {"build_bulk": build_bulk, "query_mix": query_mix}


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def e2e_metrics(b: Bench) -> dict:
    ms = [r["ms"] for r in b.requests]
    vals = {
        "setup_s": b.setup_s,
        "peak_rss_mb": b.peak_rss_mb,
        "requests_per_s": len(ms) / (sum(ms) / 1000.0),
        "request_p50_ms": statistics.median(ms),
        "index_bytes_per_text_byte": b.index_ratio,
    }
    return {name: {"value": vals[name], "unit": unit} for name, unit in E2E}


def _records_path() -> str:
    return os.path.join(WORK, "untraced_e2e.json")


def save_untraced(key: str, seed: int, metrics: dict) -> None:
    path = _records_path()
    recs = {}
    if os.path.exists(path):
        with open(path) as f:
            recs = json.load(f)
    recs.setdefault(key, {})[str(seed)] = metrics
    with open(path, "w") as f:
        json.dump(recs, f)


def load_untraced(key: str, seed: int):
    """The untraced e2e metrics of the same workload and corpus shape:
    same seed if recorded, else the most recent seed recorded."""
    path = _records_path()
    if not os.path.exists(path):
        return None
    with open(path) as f:
        recs = json.load(f).get(key, {})
    if not recs:
        return None
    return recs.get(str(seed)) or list(recs.values())[-1]


def setup_env(run_dir: str, trace: bool) -> None:
    """Environment for the JVM and the Python workers, set before the
    session starts: every scratch file stays inside ``run_dir``."""
    from tracing import eventlog_conf
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the session factory points java.io.tmpdir at /tmp; the explicit
    # driver option takes precedence over that conf. -UsePerfData drops
    # the JVM's /tmp/hsperfdata file.
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options",
              f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"]
    if trace:
        submit += eventlog_conf(os.path.join(run_dir, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "konlspark", "__init__.py")):
        print(f"konlspark/ not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import numpy as np
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    setup_env(run_dir, bool(args.trace))

    b = Bench(args, t_start, run_dir)
    rng = np.random.default_rng([args.seed, 1])
    try:
        state = WORKLOADS[args.workload](b, rng)
        if args.trace:
            import probe
            probe.layer_probe(b, state, rng)
    finally:
        b.close()

    try:
        e2e = e2e_metrics(b)
        failed = sum(1 for _, ok in b.ops if not ok)
        record_key = f"{args.workload}:{'smoke' if args.smoke else 'full'}"
        context = {"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "turns": b.shape["turns"],
                   "requests": len(b.requests), **b.host.finish(),
                   "setup_marks_s": b.marks,
                   "peak_rss_mb_by_process": {
                       k: v / 1024.0 for k, v in b.rss.peak_by_name.items()},
                   **b.per_class}
        if args.trace:
            import probe
            metrics = probe.per_layer(b, run_dir,
                                      load_untraced(record_key, args.seed),
                                      e2e)
            # keep the last traced run's spans and event log for inspection
            keep = os.path.join(WORK, f"trace-{args.workload}")
            shutil.rmtree(keep, ignore_errors=True)
            shutil.move(os.path.join(run_dir, "eventlog"), keep)
            b.tracer.write(os.path.join(keep, "spans.json"))
        else:
            metrics = e2e
            save_untraced(record_key, args.seed, e2e)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": len(b.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
