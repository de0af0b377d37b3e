"""SemDeDup — semantic deduplication over an embedding column.

Published analog: Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" (arXiv:2303.09540) — k-means the
embedding space, compare pairs ONLY within a cell, call a pair semantic
duplicates when cosine ≥ 1 - eps, and keep exactly one member per
duplicate group: the one with the LOWEST similarity to its cell centroid
(the paper's keep-the-outlier policy, which preserves diversity).

Spark-first composition — every stage is an operator this engine already
ships, so the new surface is just the glue:

- centroids: ``operators/ann.train_ivf_centroids`` (seeded spherical
  k-means on a bounded driver-side sample — the corpus never trains);
- cell assignment + centroid similarity: one Arrow-batched pandas UDF
  (matrix product per batch, mirroring ``make_ivf_assign_udf``);
- within-cell capping: ``bucket_join.capped_buckets`` keyed on
  ``centroid_id`` — the same rank/cap/salt code the text pipeline's
  candidate buckets use, so a mega-cell on a 10^12-doc corpus keeps its
  ``max_cell_compare`` lowest-id members (ranked per salt when it is
  hot) and the spill is a counted metric, never an OOM;
- pair cosine: ONE BLAS gemm per capped cell (``_cell_pair_edges``)
  — each embedding crosses the JVM/Python boundary once, not once per
  pair, and the per-task matrix is bounded by cap² × 8 B;
- duplicate groups: the same two-phase connected components as the text
  pipeline, so transitively-linked duplicates collapse to ONE keeper
  (the paper's per-pair dedup can keep two members of a chained triple);
- keep policy: a map-side-combinable ``min_by`` aggregate per cluster —
  the skew-safe shape the retention operator uses (no per-cluster window).

Reference seam: this is the embedding-space twin of the pipeline's
text-signature dedup (SURVEY O5-O8, O10, O16) applied to the
``embeddings`` table the training-pipeline brief ships.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann import _l2_normalize
from .bucket_join import capped_buckets
from .connected_components import connected_components

_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("centroid_id", T.IntegerType(), False),
        T.StructField("cent_sim", T.DoubleType(), False),
    ]
)


def assign_cells(embeddings: DataFrame, cents: np.ndarray) -> DataFrame:
    """``(vec_id, embedding, ...)`` → ``+ (centroid_id, cent_sim)``.

    One Arrow-batched matrix product per batch (spherical cells: nearest
    centroid == argmax of normalized dot, see train_ivf_centroids)."""
    cents = np.ascontiguousarray(cents, dtype=np.float64)

    @F.pandas_udf(_ASSIGN_SCHEMA)
    def assign_udf(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        sims = _l2_normalize(mat) @ cents.T
        cid = sims.argmax(axis=1)
        return pd.DataFrame(
            {
                "centroid_id": cid.astype(np.int32),
                "cent_sim": sims[np.arange(len(cid)), cid],
            }
        )

    return embeddings.withColumn("_a", assign_udf("embedding")).select(
        "*", "_a.centroid_id", "_a.cent_sim"
    ).drop("_a")


def _cell_pair_edges(cells: DataFrame, eps: float) -> DataFrame:
    """Per-cell all-pairs cosine: ONE BLAS gemm per cell instead of a
    pair-exploded kernel. A pair fan-out ships both embeddings per pair
    (2×64 float64 ≈ 1 KB × pairs — 3 GB through Arrow for 3.1M pairs at
    sf1.0, measured 14.1 s); grouping by cell ships each embedding ONCE
    (10 MB for the same input) and scores the cell with m @ m.T — the
    optimization guide's §8 rule (move heavy bytes once, decide with
    dense math). ``cells`` is ``capped_buckets`` output, so each cell
    holds at most ``max_cell_compare`` members and the per-task matrix is
    bounded by cap² × 8 B (8 MB at the 1024 default). Emits exactly the
    pairs ``bucket_pairs`` emits for the same kept members: every
    vid_a < vid_b with cosine >= 1 - eps (gemm dot order can differ from
    a sequential fold in the last ulps, so a pair sitting exactly on the
    eps boundary may flip)."""
    thr = 1.0 - eps

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"u": pd.Series(dtype=object), "v": pd.Series(dtype=object)})
        pdf = pdf.sort_values("vid")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        norms[norms == 0.0] = 1.0
        sims = (m @ m.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(pdf), k=1)
        keep = sims[iu[0], iu[1]] >= thr
        vids = pdf["vid"].to_numpy()
        return pd.DataFrame({"u": vids[iu[0][keep]], "v": vids[iu[1][keep]]})

    return cells.select("centroid_id", "vid", "embedding").groupBy(
        "centroid_id"
    ).applyInPandas(per_cell, schema="u string, v string")


def semdedup(
    embeddings: DataFrame,
    cents: np.ndarray,
    eps: float = 0.05,
    max_cell_compare: int = 1024,
    salt_threshold: int | None = 65536,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """→ ``(members, dropped, cached)``.

    ``members(vec_id, cluster_id, cent_sim, is_kept)`` — one row per
    member of a semantic-duplicate group (vectors in no group are
    implicitly kept, same convention as operators/retention); exactly one
    ``is_kept`` row per cluster: lowest ``cent_sim``, vec_id tiebreak.
    Only the ``max_cell_compare`` lowest-vec_id members of a cell are
    compared (a per-salt quota of them for a cell above
    ``salt_threshold``); ``dropped`` counts the cell members beyond that cap (cap
    metric); ``cached`` are caller-owned persisted handles
    (``capped_buckets``' ``persist``).
    """
    assigned = assign_cells(embeddings, cents).select(
        # zero-padded string id: capped_buckets orders by it and CC min()s
        # it lexicographically — padding makes both match numeric order.
        # Width 20 covers every non-negative int64 (19 digits): Spark's
        # lpad TRUNCATES over-length inputs, so a narrower pad would
        # silently collapse distinct ids at >= 10^12 — the exact scale
        # this module targets. vec_id must be non-negative (a '-' sign
        # breaks the lexicographic==numeric equivalence).
        F.lpad(F.col("vec_id").cast("string"), 20, "0").alias("vid"),
        "embedding",
        "centroid_id",
        "cent_sim",
    ).localCheckpoint(eager=False)
    # the assignment UDF feeds three consumers (cell sizes pass, the
    # ranking window, the keeper join) — the lazy checkpoint computes it
    # once and truncates its subtree out of every downstream plan (the
    # same plan-diamond rule as the probe, incremental_probe.py docstring)
    kept, dropped, cached = capped_buckets(
        assigned,
        ["centroid_id"],
        id_col="vid",
        carry_cols=["embedding"],
        max_bucket_size=max_cell_compare,
        persist=persist,
        salt_threshold=salt_threshold,
    )
    clusters = connected_components(_cell_pair_edges(kept, eps))  # (url, cluster_id)

    members = clusters.join(
        assigned.select(F.col("vid").alias("url"), "cent_sim"), "url"
    )
    # skew-safe keeper: map-side-combinable min_by per cluster (no window)
    winners = members.groupBy("cluster_id").agg(
        F.min_by("url", F.struct(F.col("cent_sim"), F.col("url"))).alias("_keep")
    )
    out = (
        members.join(winners, "cluster_id")
        .select(
            F.col("url").cast("bigint").alias("vec_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "cent_sim",
            (F.col("url") == F.col("_keep")).alias("is_kept"),
        )
    )
    return out, dropped, cached
