"""The one candidate-key space (SURVEY O5/O6): MinHash-LSH bands, SimHash
pigeonhole chunks and CDC fingerprints as ``(url, src, key, sig)`` rows.

MinHash bands are the principled generalization of the reference's
md5[:8] bucketing (its src/core/comparator.py:52-63): the
128-perm MinHash is sliced into b bands × r rows; each band is hashed with
the JVM-side ``xxhash64`` (band id as seed separator); documents colliding
in any band become candidates. With b=16, r=8 a pair at Jaccard s collides
with probability 1-(1-s^8)^16 — ≈0.95 at s=0.8, →1 for exact duplicates —
which is what makes dup-pair recall ≥0.99 achievable *after* the exact
class is handled separately (operators/exact.py). SimHash chunks
(operators/simhash_candidates.py) and CDC fingerprints
(functions/fingerprint.py) share the same key column, told apart by the
``src`` tag, which is part of every bucket key downstream.

Both candidate paths read their keys here: the pipeline buckets them
in one shuffle (plans/pipeline.py:_candidates → bucket_join.bucket_pairs),
and the probe broadcast-joins the batch's keys against the store's
(operators/incremental_probe.py). The rows come from ONE explode of one
literal struct array per signature row: one scan of the input, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from .simhash_candidates import chunk_structs


def candidate_keys(
    sigs: DataFrame, cfg: DedupConfig, sources: Iterable[str], url_col: str = "url"
) -> DataFrame:
    """``sigs(url, minhash, simhash, fingerprints)`` →
    ``(url_col, src, key, sig)``, one row per key of each enabled
    signature-derived source in ``sources`` (others, such as
    ``suffix_array``, are ignored; at least one must be enabled):

    - ``minhash``: the band-seeded ``xxhash64(slice(minhash, b·r+1, r), b)``;
    - ``simhash``: ``xxhash64(chunk_id, chunk_value)``, with ``sig`` the
      64-bit SimHash (the post-join Hamming filter reads it);
    - ``suffix``: each CDC fingerprint (a distinct set per doc).

    ``sig`` is NULL on every row but the simhash ones."""
    r = cfg.rows_per_band
    null_sig = F.lit(None).cast("long")

    def item(src: str, key: Column, sig: Column = null_sig) -> Column:
        return F.struct(F.lit(src).alias("src"), key.alias("key"), sig.alias("sig"))

    sources = set(sources)
    parts = []
    if "minhash" in sources:
        bands = [
            item("minhash", F.xxhash64(F.slice("minhash", b * r + 1, r), F.lit(b)))
            for b in range(cfg.bands)
        ]
        parts.append(F.array(*bands))
    if "simhash" in sources:
        chunks = [
            item("simhash", F.xxhash64(c["chunk_id"], c["chunk_value"]), F.col("simhash"))
            for c in chunk_structs("simhash", cfg.simhash_bits, cfg.simhash_chunks)
        ]
        parts.append(F.array(*chunks))
    if "suffix" in sources:
        parts.append(F.transform("fingerprints", lambda fp: item("suffix", fp)))
    return sigs.select(
        F.col("url").alias(url_col), F.explode(F.concat(*parts)).alias("_k")
    ).select(url_col, "_k.src", "_k.key", "_k.sig")
