"""SemDeDup: Spark pipeline vs a driver-side NumPy twin.

Semantics under test (Abbas et al., arXiv:2303.09540): k-means cells,
within-cell cosine >= 1-eps duplicate pairs, one keeper per duplicate
group = the member with the lowest similarity to its cell centroid.
"""

from __future__ import annotations

import numpy as np
import pytest

from video_duplicate_finder_python_spark.operators.ann import (
    _l2_normalize,
    train_ivf_centroids,
)
from video_duplicate_finder_python_spark.operators.semdedup import (
    assign_cells,
    semdedup,
)

DIM = 32
EPS = 0.05


def _corpus(seed=99, n_groups=4, group_size=4, n_distinct=40):
    """Embedding rows with planted semantic-duplicate groups.

    Group members share a direction up to tiny noise (pairwise cosine
    > 1-eps by construction) at varying magnitudes (cosine is
    magnitude-blind); distinct high-dim random vectors are mutually
    near-orthogonal, far below the threshold."""
    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    truth_groups = []
    for _ in range(n_groups):
        d = rng.standard_normal(DIM)
        members = []
        for _ in range(group_size):
            v = d + rng.standard_normal(DIM) * 0.01
            v = v / np.linalg.norm(v) * rng.uniform(0.5, 3.0)
            rows.append((vid, [float(np.float32(x)) for x in v]))
            members.append(vid)
            vid += 1
        truth_groups.append(members)
    for _ in range(n_distinct):
        v = rng.standard_normal(DIM)
        rows.append((vid, [float(np.float32(x)) for x in v]))
        vid += 1
    return rows, truth_groups


def _twin(rows, cents, eps=EPS, cap=None):
    """Driver-side replica: same float32->float64 value path, same keep
    policy, a sequential left-fold cosine (the planted margins keep every
    pair far from the eps boundary, where the engine's per-cell gemm
    could differ in the last ulps). ``cap``: compare only each cell's
    ``cap`` lowest-vec_id members, as ``max_cell_compare`` does."""
    ids = [r[0] for r in rows]
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    sims = _l2_normalize(mat) @ np.asarray(cents, dtype=np.float64).T
    cid = sims.argmax(axis=1)
    cent_sim = sims[np.arange(len(ids)), cid]

    def cos(a, b):  # sequential double fold
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return dot / float(np.sqrt(na * nb))

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    in_group = set()
    by_cell = {}
    for i, c in zip(range(len(ids)), cid):
        by_cell.setdefault(int(c), []).append(i)
    for cell in by_cell.values():
        cell = sorted(cell, key=lambda i: ids[i])[:cap]
        for a in range(len(cell)):
            for b in range(a + 1, len(cell)):
                i, j = cell[a], cell[b]
                if cos(mat[i], mat[j]) >= 1.0 - eps:
                    ri, rj = find(ids[i]), find(ids[j])
                    parent[max(ri, rj)] = min(ri, rj)
                    in_group |= {ids[i], ids[j]}
    groups = {}
    for i, v in enumerate(ids):
        if v in in_group:
            groups.setdefault(find(v), []).append((cent_sim[i], v))
    out = {}
    for root, mem in groups.items():
        keep = min(mem)[1]  # lowest cent_sim, id tiebreak
        for cs, v in mem:
            out[v] = (root, cs, v == keep)
    return out


@pytest.fixture(scope="module")
def rows_and_truth():
    return _corpus()


@pytest.fixture(scope="module")
def result(spark, rows_and_truth):
    rows, _ = rows_and_truth
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = train_ivf_centroids(df, n_centroids=8, train_size=256, seed=7)
    members, dropped, cached = semdedup(df, cents, eps=EPS, persist=True)
    got = {r.vec_id: (r.cluster_id, r.cent_sim, r.is_kept) for r in members.collect()}
    n_dropped = dropped.collect()[0][0]
    for c in cached:
        c.unpersist()
    return got, n_dropped, cents


def test_matches_numpy_twin(result, rows_and_truth):
    rows, _ = rows_and_truth
    got, n_dropped, cents = result
    assert n_dropped == 0
    twin = _twin(rows, cents)
    assert set(got) == set(twin)
    for vid, (cl, cs, kept) in twin.items():
        assert got[vid][0] == cl
        assert got[vid][1] == pytest.approx(cs, abs=1e-12)
        assert got[vid][2] == kept


def test_planted_groups_one_keeper(result, rows_and_truth):
    _, truth_groups = rows_and_truth
    got, _, _ = result
    for members in truth_groups:
        # a planted group can only be found whole if k-means put the
        # shared direction's members in one cell — spherical cells on a
        # seeded sample do; assert it so a training regression is loud
        cls = {got[v][0] for v in members if v in got}
        assert len(cls) == 1, f"group {members} split across clusters {cls}"
        kept = [v for v in members if v in got and got[v][2]]
        assert len(kept) == 1
        # keeper is the member least similar to the centroid
        sims = {v: got[v][1] for v in members if v in got}
        assert sims[kept[0]] == min(sims.values())


def test_distinct_vectors_not_grouped(result, rows_and_truth):
    rows, truth_groups = rows_and_truth
    got, _, _ = result
    planted = {v for g in truth_groups for v in g}
    assert all(v in planted for v in got), "a distinct vector joined a group"


def test_assign_cells_schema(spark, rows_and_truth):
    rows, _ = rows_and_truth
    df = spark.createDataFrame(rows[:8], "vec_id bigint, embedding array<float>")
    cents = _l2_normalize(np.random.default_rng(3).standard_normal((4, DIM)))
    out = assign_cells(df, cents)
    assert {"vec_id", "embedding", "centroid_id", "cent_sim"} <= set(out.columns)
    pdf = out.toPandas()
    assert pdf.centroid_id.between(0, 3).all()
    assert (pdf.cent_sim <= 1.0 + 1e-9).all()


def test_cell_kernel_overcap_routing_matches(spark, rows_and_truth):
    """With max_cell_compare forced below the cell sizes, every cell is
    cut to its 16 lowest-vec_id members before the per-cell gemm: the
    decisions equal the twin's at the same cap, and every member beyond
    the cap is counted as dropped."""
    rows, _ = rows_and_truth
    # rotate the ids so planted groups sit on both sides of each cell's cap
    rows = [((v + 20) % len(rows), e) for v, e in rows]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = train_ivf_centroids(df, n_centroids=2, train_size=256, seed=7)
    members, dropped, cached = semdedup(
        df, cents, eps=EPS, persist=True, max_cell_compare=16
    )
    got = {r.vec_id: (r.cluster_id, r.is_kept) for r in members.collect()}
    n_dropped = int(dropped.first()[0] or 0)
    for c in cached:
        c.unpersist()

    twin = _twin(rows, cents, cap=16)
    assert twin != _twin(rows, cents), "the cap must change the decisions"
    assert got == {v: (cl, kept) for v, (cl, _, kept) in twin.items()}
    cid = (
        _l2_normalize(np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]))
        @ np.asarray(cents, dtype=np.float64).T
    ).argmax(axis=1)
    sizes = np.bincount(cid)
    assert n_dropped == int(np.maximum(sizes - 16, 0).sum()) > 0
