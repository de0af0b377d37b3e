"""Large-star/small-star CC on the FIXTURES.md F5 hand-built graphs —
each merge branch of the reference union-find
(/root/reference/src/gui/main_window.py:238-255)."""

from __future__ import annotations

import importlib

from video_duplicate_finder_python_spark.operators.connected_components import (
    connected_components,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["u", "v"])
    return {
        (r["url"], r["cluster_id"]) for r in connected_components(df).collect()
    }


def test_chain(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")}


def test_two_disjoint_pairs(spark):
    got = _cc(spark, [("a", "b"), ("c", "d")])
    assert got == {("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")}


def test_star(spark):
    got = _cc(spark, [("m", "x1"), ("m", "x2"), ("m", "x3")])
    assert got == {("m", "m"), ("x1", "m"), ("x2", "m"), ("x3", "m")}


def test_late_merge_of_two_groups(spark):
    # the reference's "both in different groups" branch: two existing
    # components joined by a late edge
    got = _cc(spark, [("a", "b"), ("x", "y"), ("b", "x")])
    assert got == {("a", "a"), ("b", "a"), ("x", "a"), ("y", "a")}


def test_self_loops_and_duplicates_ignored(spark):
    got = _cc(spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])
    assert got == {("a", "a"), ("b", "a")}


def test_long_path_converges(spark):
    n = 40
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)]
    got = dict(_cc(spark, edges))
    assert set(got.values()) == {"n00"}
    assert len(got) == n + 1


def test_distributed_rounds_match_local_finish(spark):
    """Two-phase CC: the distributed star loop (forced via
    local_finish_edges=0) and the driver union-find finish must produce
    the identical clustering on a graph mixing chains, stars, merges and
    singleton-free structure."""
    import random

    rng = random.Random(3)
    edges = []
    for c in range(200):  # small components
        base = f"https://s/{c:04d}"
        for m in range(1, rng.choice([2, 2, 3])):
            edges.append((f"{base}/m{m}", base))
    for c in range(5):  # deep chains (many star rounds to converge)
        urls = [f"https://chain/{c}/{i:03d}" for i in range(30)]
        edges += list(zip(urls[1:], urls[:-1]))
    df = spark.createDataFrame(edges, ["u", "v"])

    dist = {
        (r["url"], r["cluster_id"])
        for r in connected_components(df, local_finish_edges=0).collect()
    }
    local = {
        (r["url"], r["cluster_id"])
        for r in connected_components(df, local_finish_edges=10**9).collect()
    }
    assert dist == local
    # chains resolve to their min url
    assert ("https://chain/0/029", "https://chain/0/000") in dist


def test_session_conf_never_mutated_by_distributed_rounds(spark):
    """Round-4 verdict #7: the star rounds express their narrowed shuffle
    width via explicit per-plan repartition; the session-global
    spark.sql.shuffle.partitions is read as a ceiling but never written,
    so concurrent jobs on the same session are unaffected."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.createDataFrame([("a", "b"), ("b", "c")], ["u", "v"])
    got = {
        (r["url"], r["cluster_id"])
        for r in connected_components(df, local_finish_edges=0).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before



GRAPHS = {
    "chain": [("a", "b"), ("b", "c"), ("c", "d")],
    "two_pairs": [("a", "b"), ("c", "d")],
    "star": [("m", "x1"), ("m", "x2"), ("m", "x3")],
    "late_merge": [("a", "b"), ("x", "y"), ("b", "x")],
    "loops_and_dups": [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")],
    "long_path": [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(40)],
}


def test_known_edge_bound_finishes_in_driver_with_same_clusters(spark, monkeypatch):
    """A caller-known row bound at or below ``local_finish_edges`` skips
    the digest (no distinct shuffle, no count action) and finishes in the
    driver; the clusters equal the pure distributed rounds' on every
    fixture graph."""
    cc = importlib.import_module(connected_components.__module__)
    digests = []
    real_digest = cc._edge_digest
    monkeypatch.setattr(cc, "_edge_digest", lambda e: digests.append(1) or real_digest(e))
    for name, edges in GRAPHS.items():
        df = spark.createDataFrame(edges, ["u", "v"])
        dist = {tuple(r) for r in connected_components(df, local_finish_edges=0).collect()}
        digests.clear()
        got = {
            tuple(r)
            for r in connected_components(
                df, local_finish_edges=len(edges), edge_rows_bound=len(edges)
            ).collect()
        }
        assert got == dist, name
        assert digests == [], name


def test_edge_bound_above_threshold_keeps_digest_path(spark, monkeypatch):
    cc = importlib.import_module(connected_components.__module__)
    digests = []
    real_digest = cc._edge_digest
    monkeypatch.setattr(cc, "_edge_digest", lambda e: digests.append(1) or real_digest(e))
    edges = GRAPHS["late_merge"]
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {
        tuple(r)
        for r in connected_components(
            df, local_finish_edges=len(edges) - 1, edge_rows_bound=len(edges)
        ).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("x", "a"), ("y", "a")}
    assert digests == [1]
