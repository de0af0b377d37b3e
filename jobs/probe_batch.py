"""Batch-probe job: which of these new pages duplicate the corpus?

The spark-submit surface for operators/incremental_probe.probe_near_dups
— the operational companion to run_dedup.py (full corpus) and the
streaming ingest's opt-in per-batch probe:

    spark-submit --py-files dist/vdf_spark.zip jobs/probe_batch.py \
        --store  s3://bucket/dedup/checkpoints/signatures \
        --input  s3://bucket/pages/today/ \
        --output s3://bucket/dedup/probe/2026-08-18 \
        [--overflow-output s3://bucket/dedup/probe/2026-08-18-overflow] \
        [--max-matches-per-doc 1024] [--langs en]

Cost model (see the operator docstring): batch-only signatures, one
shuffle-free store pass per candidate source (MinHash bands, plus CDC
fingerprints unless --bands-only) + the matched-set text fetch. Output
pairs carry (new_url, other_url, is_new_other, jaccard, hamming,
lcs_len, is_dup); only verified rows (is_dup) are written unless
--keep-all-scored is passed. --bands-only skips the substring source —
required for stores without a fingerprints column, cheaper everywhere
else at the cost of the low-Jaccard verbatim-span recall class.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="incremental near-dup probe")
    p.add_argument("--store", required=True, help="signature store/checkpoint parquet")
    p.add_argument("--input", required=True, help="new pages table path (parquet)")
    p.add_argument("--output", required=True, help="verified dup pairs output")
    p.add_argument("--overflow-output", default=None)
    p.add_argument("--max-matches-per-doc", type=int, default=1024)
    p.add_argument("--langs", default=None, help="comma-separated lang filter")
    p.add_argument(
        "--bands-only",
        action="store_true",
        help="probe with MinHash bands only (skip the CDC-fingerprint "
        "substring source; required for stores without a fingerprints "
        "column)",
    )
    p.add_argument(
        "--keep-all-scored",
        action="store_true",
        help="write every scored candidate, not just is_dup rows",
    )
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from video_duplicate_finder_python_spark import DedupConfig
    from video_duplicate_finder_python_spark.functions.text import extract_text_col
    from video_duplicate_finder_python_spark.operators.incremental_probe import (
        probe_near_dups,
    )
    from video_duplicate_finder_python_spark.sources.pages import read_pages
    from video_duplicate_finder_python_spark.sources.storage import Storage

    spark = SparkSession.builder.appName("vdf-probe").getOrCreate()
    spark.sparkContext.setJobGroup("vdf-probe", "incremental near-dup probe", True)

    t0 = time.monotonic()
    langs = args.langs.split(",") if args.langs else None
    pages = read_pages(spark, args.input, langs=langs)
    new_docs = pages.select("url", extract_text_col(F.col("html")).alias("text"))
    store = spark.read.parquet(args.store)

    cfg = DedupConfig()
    pairs, overflow, _ = probe_near_dups(
        store,
        new_docs,
        cfg,
        max_matches_per_doc=args.max_matches_per_doc,
        substring=not args.bands_only,
    )
    out = pairs if args.keep_all_scored else pairs.where("is_dup")
    out.write.mode("overwrite").parquet(args.output)
    # written rows from the output's parquet footers: no Spark job
    rows_written = sum(Storage(args.output).footer_rows())
    # "pairs" always means VERIFIED dup pairs, regardless of
    # --keep-all-scored (which only widens what lands in --output)
    n_pairs = (
        spark.read.schema(out.schema).parquet(args.output).where("is_dup").count()
        if args.keep_all_scored
        else rows_written
    )
    # the overflow count is reported UNCONDITIONALLY — diverted
    # boilerplate docs must never be silent (operator contract), with or
    # without an --overflow-output sink
    if args.overflow_output:
        overflow.write.mode("overwrite").parquet(args.overflow_output)
        n_overflow = sum(Storage(args.overflow_output).footer_rows())
    else:
        # the rows are batch urls: collecting them is one job over the
        # materialized cut, where count() would run a second one
        n_overflow = len(overflow.collect())

    print(
        "VDF_PROBE_SUMMARY "
        + json.dumps(
            {
                "wall_s": round(time.monotonic() - t0, 2),
                "pairs": n_pairs,
                "rows_written": rows_written,
                "overflow_docs": n_overflow,
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
