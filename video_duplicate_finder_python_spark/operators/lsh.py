"""MinHash-LSH band hashing (SURVEY O5/O6).

The principled generalization of the reference's md5[:8] bucketing
(/root/reference/src/core/comparator.py:52-63): the 128-perm MinHash is
sliced into b bands × r rows; each band is hashed with the JVM-side
``xxhash64`` (band id as seed separator); documents colliding in any band
become candidates. With b=16, r=8 a pair at Jaccard s collides with
probability 1-(1-s^8)^16 — ≈0.95 at s=0.8, →1 for exact duplicates — which
is what makes dup-pair recall ≥0.99 achievable *after* the exact class is
handled separately (operators/exact.py).

Band explode is a literal column array — no shuffle. The pipeline keys
the band rows as ``(src="minhash", key=band_hash)`` into the one candidate
bucket shuffle it shares with the SimHash chunks and CDC fingerprints
(plans/pipeline.py:_candidates → bucket_join.bucket_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def explode_bands(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """``signatures(url, minhash, ...)`` → ``bands(url, band_id, band_hash)``."""
    r = cfg.rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(F.slice("minhash", b * r + 1, r), F.lit(b)).alias("band_hash"),
        )
        for b in range(cfg.bands)
    ]
    return signatures.select(
        "url", F.explode(F.array(*band_structs)).alias("_band")
    ).select("url", "_band.band_id", "_band.band_hash")
