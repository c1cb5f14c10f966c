"""Segmented-build resume exercise at bench scale (B7/B8 under kill).

tests/test_resume.py proves segment-checkpoint resume at fixture scale;
this tool proves it at bench scale with a REAL mid-build kill:

1. run the deterministic 1M-turn bench corpus through an N-segment
   build in a child process group;
2. SIGKILL the group once K segments have committed (segments.json);
3. re-run the identical build to completion;
4. assert the re-run SKIPPED every previously-committed segment
   (manifest.segment_metrics lists only segments actually built in the
   final run) and rebuilt exactly the rest;
5. run the bench golden check against the resumed index (the stored
   key of that corpus size) — it must be bit-for-bit query-correct.
   Each segment is a term-bucket range written straight into the one
   postings table; there is no merge pass.

Records evidence to BENCH/segmented_resume_r<round>.json.

Usage:
    python tools/bench_segmented_resume.py [--turns 1000000]
        [--segments 8] [--kill-after 4] [--cores 32] [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHILD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from konlspark import build, corpus
from konlspark.session import get_spark

spark = get_spark("konlspark-segres", cores={cores},
                  shuffle_partitions={parts})
tdf = corpus.spark_make_transcripts(
    spark, {turns}, turns_per_conv=20, seed=42,
    min_words=3, max_words=60,
    num_partitions=max(8, {cores}), cluster_rows={cluster_rows}).cache()
tdf.count()
build.build_index(spark, tdf, {root!r}, n_segments={segments})
print("BUILD_COMPLETE")
"""


def _committed(root: str) -> list:
    path = os.path.join(root, "_meta", "segments.json")
    if not os.path.exists(path):
        return []
    try:
        with open(path) as f:
            return sorted(json.load(f)["segments"].keys())
    except (json.JSONDecodeError, KeyError):
        return []  # mid-write; caller polls again


def _run_child(code: str, kill_after: int, root: str,
               timeout: int = 1800):
    """Run the build child in its own process group (logs to a file —
    a PIPE would deadlock on Spark's log volume); if ``kill_after``
    >= 0, SIGKILL the whole group once that many segments committed."""
    env = dict(os.environ, PYTHONPATH=REPO)
    t0 = time.time()
    log_path = f"{root}_child.log"
    with open(log_path, "ab") as log:
        proc = subprocess.Popen([sys.executable, "-c", code],
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, env=env)
        killed = False
        if kill_after >= 0:
            while proc.poll() is None:
                if time.time() - t0 > timeout:
                    os.killpg(proc.pid, signal.SIGKILL)
                    raise SystemExit("child build timed out")
                if len(_committed(root)) >= kill_after:
                    os.killpg(proc.pid, signal.SIGKILL)
                    killed = True
                    break
                time.sleep(0.25)
            proc.wait()
        else:
            proc.wait(timeout=timeout)
            with open(log_path, "rb") as f:
                out = f.read().decode("utf-8", "replace")
            if proc.returncode != 0 or "BUILD_COMPLETE" not in out:
                print(out[-4000:], file=sys.stderr)
                raise SystemExit("resumed build failed")
    return killed, time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=1_000_000)
    ap.add_argument("--segments", type=int, default=8)
    ap.add_argument("--kill-after", type=int, default=4)
    ap.add_argument("--cores", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))))
    ap.add_argument("--out", default=os.path.join(
        REPO, "BENCH", "segmented_resume_r4.json"))
    args = ap.parse_args()

    root = f"/tmp/konlspark_segres_{os.getpid()}"
    cluster_rows = min(2000, max(1300, args.turns // 50))
    parts = max(8, min(3 * args.cores,
                       max(args.cores, args.turns // 3000)))
    code = CHILD_SCRIPT.format(repo=REPO, cores=args.cores, parts=parts,
                               turns=args.turns, root=root,
                               segments=args.segments,
                               cluster_rows=cluster_rows)

    print(f"run 1: building {args.turns} turns in {args.segments} "
          f"segments, killing after {args.kill_after} commit(s)...")
    killed, t1 = _run_child(code, args.kill_after, root)
    committed_before = _committed(root)
    assert killed, "child finished before the kill threshold"
    assert len(committed_before) >= args.kill_after, committed_before
    assert not os.path.exists(os.path.join(root, "_meta",
                                           "manifest.json")), \
        "manifest must not exist after a mid-build kill"
    print(f"  killed after {len(committed_before)} segment commits "
          f"({t1:.1f}s)")

    print("run 2: resuming to completion...")
    _, t2 = _run_child(code, -1, root)
    with open(os.path.join(root, "_meta", "manifest.json")) as f:
        manifest = json.load(f)
    rebuilt = sorted(k for m in manifest["segment_metrics"] for k in m)
    all_segs = sorted(f"segment={i:05d}" for i in range(args.segments))
    overlap = set(committed_before) & set(rebuilt)
    assert not overlap, f"resume REBUILT committed segments: {overlap}"
    assert sorted(set(committed_before) | set(rebuilt)) == all_segs, (
        committed_before, rebuilt)
    print(f"  resumed: skipped {len(committed_before)}, rebuilt "
          f"{len(rebuilt)} ({t2:.1f}s)")

    # golden check on the resumed index (same corpus key as bench.py)
    import types

    import bench
    from konlspark.query import SearchEngine
    from konlspark.session import get_spark
    spark = get_spark("konlspark-segres-check", cores=args.cores,
                      shuffle_partitions=parts)
    eng = SearchEngine(spark, root)
    golden = bench.check_golden(
        eng, manifest, args.turns,
        types.SimpleNamespace(min_words=3, max_words=60,
                              anchor_oracle=False),
        cluster_rows)
    assert golden == "ok", f"golden status {golden!r} (expected a " \
        "pre-recorded key — run bench.py at this size first)"
    print(f"  golden check vs stored {args.turns}-turn key: {golden}")

    record = {
        "turns": args.turns,
        "segments": args.segments,
        "killed_after_commits": len(committed_before),
        "skipped_on_resume": committed_before,
        "rebuilt_on_resume": rebuilt,
        "run1_killed_sec": round(t1, 1),
        "run2_resume_sec": round(t2, 1),
        "golden": golden,
        "cores": args.cores,
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    import shutil
    shutil.rmtree(root, ignore_errors=True)
    if os.path.exists(f"{root}_child.log"):  # written by _run_child
        os.remove(f"{root}_child.log")


if __name__ == "__main__":
    main()
