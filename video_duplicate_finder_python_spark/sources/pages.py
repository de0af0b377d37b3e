"""Page-table sources (SURVEY O1).

The reference's source is a recursive directory walk with an extension
predicate (/root/reference/src/core/scanner.py:65-75); ours is a columnar
table scan — parquet in the sandbox, Iceberg in a real deployment (same
reader seam). Filters passed here become Catalyst pushed predicates at the
scan, the declarative analog of the extension check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_pages(
    spark: SparkSession,
    path: str,
    langs: list[str] | None = None,
) -> DataFrame:
    df = spark.read.parquet(path)
    if langs:
        df = df.filter(F.col("lang").isin(langs))  # pushed to the scan
    return df


def spread_input(df: DataFrame) -> DataFrame:
    """Input-skew guard (optimization guide §2.5, 'one huge unsplittable
    file'): when a scan yields fewer partitions than the session's
    parallelism — a single small parquet file, one fat gzip member — every
    downstream per-row kernel (text extraction, signature UDFs, the media
    DCT) runs on one core no matter how many the session has. Round-robin
    repartition to the default parallelism spreads the rows; on a healthy
    multi-file corpus (scan partitions >= cores) this returns the input
    unchanged, so no corpus-wide shuffle is ever introduced at scale.
    Safe for every consumer in this engine: results are
    partitioning-invariant (asserted across parallelism levels by
    ``scripts/scaling.py run`` and the pipeline test suite)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def docs_to_pages(docs: DataFrame) -> DataFrame:
    """Adapt a ``documents``-shaped frame (doc_id, text, lang) to the pages
    schema — shared by the driver's table and the derived test corpora
    (exact-copy / substring-twin unions) built on top of it.

    Deterministic: the html wrap matches FIXTURES.md F1 so the extraction
    invariant (extract_text(html) == text, byte-identical) holds here too.
    """
    return docs.select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string")).alias("url"),
        (
            F.to_timestamp(F.lit("2025-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.concat(
            F.lit("<html><head><title>t"),
            F.col("doc_id").cast("string"),
            F.lit("</title></head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's ``documents`` table as pages (see docs_to_pages).

    Deliberately NOT wrapped in ``spread_input``: the heavy downstream
    consumers re-establish parallelism where it pays (the pipeline's
    signature stage repartitions before its UDF; the extract stage is
    sub-second even single-task at sf0.1), and an A/B on the media-pair
    path measured the blanket spread a small net LOSS (best 2.18-2.48 s
    unspread vs 2.65-2.67 s spread — the html-byte exchange costs more
    than the cheap frame kernel saves). Callers whose kernel is genuinely
    scan-bound opt in per call site."""
    return docs_to_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
