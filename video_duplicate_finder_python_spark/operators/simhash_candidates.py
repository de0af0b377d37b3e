"""SimHash pigeonhole chunks (secondary recall source).

The web-text analog of the reference's per-frame Hamming scoring
(/root/reference/src/core/hasher.py:110-124), done at scale: the 64-bit
SimHash is split into ``simhash_chunks`` equal chunks; by pigeonhole, any
pair within Hamming distance ``chunks - 1`` shares at least one exact
chunk, so grouping on (chunk_id, chunk_value) has *guaranteed* recall for
hamming <= 3 at 4 chunks. The pipeline buckets the chunk rows in its one
candidate shuffle and filters the pairs on the exact Hamming distance, a
JVM-side ``bit_count(a ^ b)`` (plans/pipeline.py:_candidates) — no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def explode_chunks(
    df: DataFrame, sig_col: str, bits: int, n_chunks: int
) -> DataFrame:
    """Append ``(chunk_id, chunk_value)`` rows for the ``n_chunks`` equal
    bit-slices of ``sig_col`` — the pigeonhole explode shared by the
    pipeline's candidate rows (explode_simhash_chunks below), media dedup
    and the cross-engine-verifiable twin (functions/simhash_sql.py), so
    the chunk math can never drift between them. Literal column array, no
    shuffle; all input columns are carried through."""
    width = bits // n_chunks
    mask = (1 << width) - 1
    chunk_structs = [
        F.struct(
            F.lit(j).alias("chunk_id"),
            F.shiftrightunsigned(sig_col, j * width)
            .bitwiseAND(F.lit(mask).cast("bigint"))
            .alias("chunk_value"),
        )
        for j in range(n_chunks)
    ]
    return (
        df.withColumn("_c", F.explode(F.array(*chunk_structs)))
        .select("*", "_c.chunk_id", "_c.chunk_value")
        .drop("_c")
    )


def explode_simhash_chunks(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """``signatures(url, simhash, ...)`` →
    ``(url, simhash, chunk_id, chunk_value)`` — one row per pigeonhole
    chunk (literal column array, no shuffle)."""
    return explode_chunks(
        signatures.select("url", "simhash"),
        "simhash",
        cfg.simhash_bits,
        cfg.simhash_chunks,
    )
