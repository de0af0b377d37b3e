"""Shared bench plumbing: timed query runs + the dedup-throughput job.

Used by bench.py (driver-facing, one JSON line) and
scripts/scaling_bench.py (N vs 4N parallelism evidence for
BENCH/BASELINE.md).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline, get_spark
from video_duplicate_finder_python_spark.plans.pipeline import StageJobCounter
from video_duplicate_finder_python_spark.session import warm_python_workers
from video_duplicate_finder_python_spark.sources.pages import documents_as_pages


def make_session(cpus: int):
    # shuffle partitions scale with the level (2x cores), as they would on
    # a real N- vs 4N-executor cluster; floor of 8 keeps tiny runs sane.
    # Python workers are pre-warmed so their one-time numpy/pandas import
    # cost (session setup, constant per executor on a real cluster) is not
    # billed to the first UDF stage of the measured job.
    spark = get_spark(
        app_name=f"vdf-bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 8),
    )
    warm_python_workers(spark, cpus)
    return spark


def run_dedup_pipeline(spark, pages_df) -> dict:
    """Full pipeline, in-memory materialization; returns timing + counts,
    and ``stage_jobs``: the Spark jobs of each stage (``StageJobCounter``,
    driver-side status reads, no job; ``<input>`` before the first stage,
    ``output`` the clusters count)."""
    n_docs = pages_df.count()
    jobs = StageJobCounter(spark)
    t0 = time.monotonic()
    res = DedupPipeline(spark, DedupConfig(), on_stage_start=jobs.mark).run(pages_df)
    jobs.mark("output")
    n_clusters = res.clusters.count()
    wall = time.monotonic() - t0
    jobs.mark("")
    return {
        "n_docs": n_docs,
        "n_cluster_members": n_clusters,
        "wall_s": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 2),
        "stage_wall_s": {k: round(v["wall_s"], 2) for k, v in res.metrics.items()},
        "stage_jobs": jobs.jobs,
    }


def synth_corpus_parquet(spark, path: str, n_docs: int, seed: int = 42) -> str:
    """Write the seeded synthetic page corpus once (reused across sessions).
    Generated on the executors (corpus_distributed) — no driver-side
    materialization, same planted-duplicate taxonomy as FIXTURES.md."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from video_duplicate_finder_python_spark.corpus_distributed import (
            generate_pages_distributed,
        )

        generate_pages_distributed(spark, n_docs, seed=seed, partitions=64).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def timed(fn) -> tuple[float, int]:
    t0 = time.monotonic()
    n = fn()
    return time.monotonic() - t0, n
