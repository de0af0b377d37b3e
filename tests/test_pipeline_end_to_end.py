"""End-to-end pipeline vs the single-node oracle (BASELINE.json bars)."""

from __future__ import annotations

import pytest

from video_duplicate_finder_python_spark.config import DedupConfig


def _cluster_map(df):
    return {r["url"]: r["cluster_id"] for r in df.collect()}


def test_cluster_assignment_matches_oracle(pipeline_result, oracle_result):
    engine = _cluster_map(pipeline_result.clusters)
    oracle = dict(zip(oracle_result.clusters["url"], oracle_result.clusters["cluster_id"]))
    assert engine == oracle


def test_dup_pair_recall_bar(pipeline_result, oracle_result):
    """Recall >= 0.99 vs oracle pairs at jaccard_true >= threshold, plus all
    confirmed substring pairs (BASELINE.json north rule)."""
    cfg = DedupConfig()
    engine = _cluster_map(pipeline_result.clusters)
    required = oracle_result.pairs[
        (oracle_result.pairs["jaccard_true"] >= cfg.jaccard_threshold)
        | (oracle_result.pairs["kind"] == "substring")
    ]
    total = len(required)
    assert total > 30, "corpus must plant enough duplicate pairs"
    covered = sum(
        1
        for r in required.itertuples(index=False)
        if engine.get(r.url_a) is not None and engine.get(r.url_a) == engine.get(r.url_b)
    )
    assert covered / total >= 0.99, f"recall {covered}/{total}"


def test_no_false_positive_pairs(pipeline_result, oracle_result, corpus):
    """Every engine dup pair must be real: jaccard >= t or LCS >= L.
    The engine's own verified jaccard is exact, so cross-check a sample
    against the oracle's shingle-set jaccard."""
    from video_duplicate_finder_python_spark.oracle import jaccard, shingle_set

    texts = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    rows = pipeline_result.pairs.where("is_dup").collect()
    assert rows
    for r in rows[:50]:
        if r["lcs_len"] is not None and r["lcs_len"] >= DedupConfig().substring_min_len:
            continue
        true_j = jaccard(
            shingle_set(texts[r["url_a"]], 5), shingle_set(texts[r["url_b"]], 5)
        )
        assert abs(true_j - r["jaccard"]) < 1e-9
        assert true_j >= DedupConfig().jaccard_threshold


def test_exact_edges_are_exact(pipeline_result, corpus):
    texts = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    for r in pipeline_result.exact_edges.collect():
        assert texts[r["u"]] == texts[r["v"]]
        assert r["v"] < r["u"]  # representative is the min url


def test_expanded_pairs_cover_exact_dup_members(pipeline_result, oracle_result):
    """ADVICE r1 #3 end-to-end: res.pairs relates exact-group reps only;
    after expansion through exact_edges the url-level dup-pair set must
    cover every planted pair whose true jaccard >= threshold — including
    pairs where one or both members were collapsed as exact duplicates."""
    from video_duplicate_finder_python_spark.operators.expand import (
        expand_pairs_through_reps,
    )

    expanded = expand_pairs_through_reps(
        pipeline_result.pairs, pipeline_result.exact_edges
    )
    got = {
        (r["url_a"], r["url_b"])
        for r in expanded.where("is_dup").select("url_a", "url_b").collect()
    }
    cfg = DedupConfig()
    required = oracle_result.pairs[
        oracle_result.pairs["jaccard_true"] >= cfg.jaccard_threshold
    ]
    exact_required = required[required["kind"] == "exact"]
    assert len(exact_required) > 0, "corpus must plant exact duplicates"
    missing = [
        (r.url_a, r.url_b)
        for r in required.itertuples(index=False)
        if (r.url_a, r.url_b) not in got
    ]
    assert not missing, missing[:5]


def test_pairs_url_level_method_matches_expand(pipeline_result):
    """PipelineResult.pairs_url_level() is the API surface for the
    reference's file-level pair view — it must agree exactly with the
    underlying expand operator (round-2 verdict item #7)."""
    from video_duplicate_finder_python_spark.operators.expand import (
        expand_pairs_through_reps,
    )

    via_method = {
        tuple(r)
        for r in pipeline_result.pairs_url_level().select("url_a", "url_b", "is_dup").collect()
    }
    via_operator = {
        tuple(r)
        for r in expand_pairs_through_reps(
            pipeline_result.pairs, pipeline_result.exact_edges
        ).select("url_a", "url_b", "is_dup").collect()
    }
    assert via_method == via_operator
    # within-group exact pairs are present by default and excludable
    n_all = pipeline_result.pairs_url_level().count()
    n_cross = pipeline_result.pairs_url_level(include_within_groups=False).count()
    assert n_all > n_cross, "corpus plants exact groups; within pairs must appear"


def test_suffix_array_source_drives_pipeline(spark, corpus, oracle_result):
    """Round-4 verdict #1: the suffix-array pass wired into the DAG as a
    candidate source. CDC is swapped OUT, so clustering the corpus's
    substring-only duplicates is reachable solely via suffix_array_pairs →
    verify (exact-LCS hint) → connected components; the resulting clusters
    must still match the single-node oracle exactly."""
    from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline
    from video_duplicate_finder_python_spark.corpus import pages_spark_df

    cfg = DedupConfig(
        candidate_sources=("minhash", "simhash", "suffix_array"),
        suffix_group_expr="'corpus'",  # 240 docs: one group = full recall
    )
    res = DedupPipeline(spark, cfg).run(pages_spark_df(spark, corpus))
    engine = _cluster_map(res.clusters)
    oracle = dict(
        zip(oracle_result.clusters["url"], oracle_result.clusters["cluster_id"])
    )
    assert engine == oracle
    # the substring class was reachable ONLY through the suffix-array path:
    # below-threshold is_dup pairs must exist, carry the suffix_array tag,
    # and their lcs_len is the operator's exact hint (never null)
    subs = res.pairs.where(
        "is_dup AND jaccard < 0.8 AND array_contains(sources, 'suffix_array')"
    ).collect()
    assert subs, "substring-only duplicates must flow through the new source"
    assert all(r["lcs_len"] is not None and r["lcs_len"] >= 500 for r in subs)
    assert set(res.metrics["candidates"]["counters"]) == {
        "lsh_dropped_members",
        "simhash_dropped_members",
        "suffix_array_dropped_members",
    }


def test_stage_metrics_emitted(pipeline_result):
    m = pipeline_result.metrics
    for stage in ["docs", "rep_docs", "exact_edges", "signatures", "candidates", "pairs", "clusters"]:
        assert stage in m
        assert m[stage]["rows_out"] >= 0
    assert set(m["candidates"]["counters"]) == {
        "lsh_dropped_members",
        "simhash_dropped_members",
        "substring_dropped_members",
    }


def test_verified_pair_sources_match_signature_collisions(
    spark, corpus, pipeline_result, tmp_path
):
    """Every verified pair carries exactly the tags of the candidate
    spaces it collides in, and every colliding pair is verified. The tags
    are recomputed in the driver from the durable signatures checkpoint:
    ``minhash`` = a shared band hash (explode_bands), ``simhash`` = a
    shared 16-bit pigeonhole chunk at Hamming <= simhash_hamming_max,
    ``suffix`` = a shared CDC fingerprint. No bucket may be capped, so a
    missing tag cannot hide behind a skew drop. The durable run must also
    reproduce the shared in-memory run's pairs and clusters."""
    from collections import defaultdict
    from itertools import combinations

    from video_duplicate_finder_python_spark import DedupPipeline
    from video_duplicate_finder_python_spark.corpus import pages_spark_df
    from video_duplicate_finder_python_spark.operators.lsh import explode_bands

    cfg = DedupConfig()
    res = DedupPipeline(spark, cfg, checkpoint_dir=str(tmp_path)).run(
        pages_spark_df(spark, corpus)
    )
    counters = res.metrics["candidates"]["counters"]
    assert counters and set(counters.values()) == {0}, counters

    sigs = spark.read.parquet(str(tmp_path / "signatures"))
    buckets: dict[tuple, set] = defaultdict(set)
    for r in explode_bands(sigs, cfg).collect():
        buckets[("minhash", r["band_id"], r["band_hash"])].add(r["url"])
    simhash = {}
    width = cfg.simhash_bits // cfg.simhash_chunks
    for r in sigs.select("url", "simhash", "fingerprints").collect():
        sim = r["simhash"] & ((1 << 64) - 1)
        simhash[r["url"]] = sim
        for j in range(cfg.simhash_chunks):
            chunk = (sim >> (j * width)) & ((1 << width) - 1)
            buckets[("simhash", j, chunk)].add(r["url"])
        for fp in r["fingerprints"]:
            buckets[("suffix", fp)].add(r["url"])

    expected: dict[tuple, set] = defaultdict(set)
    for key, members in buckets.items():
        for a, b in combinations(sorted(members), 2):
            if key[0] == "simhash" and (
                bin(simhash[a] ^ simhash[b]).count("1") > cfg.simhash_hamming_max
            ):
                continue
            expected[(a, b)].add(key[0])

    got = {(r["url_a"], r["url_b"]): set(r["sources"]) for r in res.pairs.collect()}
    assert {"minhash", "simhash", "suffix"} <= set().union(*got.values())
    assert got == dict(expected)

    def pair_map(pr):
        return {
            (r["url_a"], r["url_b"]): (
                tuple(sorted(r["sources"])), r["is_dup"], r["jaccard"]
            )
            for r in pr.pairs.collect()
        }

    assert pair_map(res) == pair_map(pipeline_result)
    assert _cluster_map(res.clusters) == _cluster_map(pipeline_result.clusters)


def test_empty_candidate_sources_rejected():
    """A config with no candidate source has no candidate stage to build;
    it is rejected at construction, not after the signature stage ran."""
    with pytest.raises(ValueError, match="candidate_sources"):
        DedupConfig(candidate_sources=())
