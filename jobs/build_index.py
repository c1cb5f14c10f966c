"""spark-submit job: build the inverted index from a transcript table.

    spark-submit --py-files konlspark.zip jobs/build_index.py \
        --input /path/to/transcripts_parquet --output /path/to/index \
        [--segments 64] [--block-size 128] [--target-per-split N] \
        [--buckets 512] [--no-resume] [--positions]

Input schema (BASELINE.json input_hint): conv_id string, turn_idx int,
role string, text string, tool string, ts timestamp. ``--segments N``
writes the postings as N contiguous term-bucket ranges (at most
``--buckets``), each a final slice of the postings table with its own
checkpoint; there is no merge pass. Every range reads all docs, so set
it for restart granularity (resume reruns only unfinished ranges), not
to bound memory.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcript parquet (not needed "
                                    "with --compact)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--segments", type=int, default=1)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--target-per-split", type=int, default=None,
                    help="max postings per (term, salt) encode group; "
                         "default: the library default (tuned for "
                         "load-balanced encode stages)")
    ap.add_argument("--buckets", type=int, default=None,
                    help="posting term buckets; default max(32, cluster "
                         "parallelism) — raise with cluster size")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--positions", action="store_true",
                    help="store per-occurrence positions in the posting "
                         "blocks (contiguous-phrase verify from the "
                         "index; appends/compaction inherit the flag)")
    ap.add_argument("--append", action="store_true",
                    help="incremental: append this input as a batch into "
                         "an existing index (WriteBatch semantics)")
    ap.add_argument("--compact", action="store_true",
                    help="compact the index at --output and exit")
    args = ap.parse_args()

    from konlspark import build, ingest

    spark = SparkSession.builder.appName("konlspark-build").getOrCreate()
    if args.compact:
        print(json.dumps(ingest.compact(spark, args.output)))
        return
    if not args.input:
        ap.error("--input is required unless --compact")
    transcripts = spark.read.parquet(args.input)
    if args.append:
        print(json.dumps(ingest.append_batch(spark, args.output, transcripts)))
        return
    kwargs = {}
    if args.target_per_split is not None:  # only override when set
        kwargs["target_per_split"] = args.target_per_split
    manifest = build.build_index(
        spark, transcripts, args.output,
        block_size=args.block_size,
        n_buckets=args.buckets,
        n_segments=args.segments,
        resume=not args.no_resume,
        store_positions=args.positions,
        **kwargs,
    )
    print(json.dumps(manifest, default=str))


if __name__ == "__main__":
    main()
