"""Incremental near-dup probe: new batch vs signature store in O(delta).

Covers: exact new-vs-store dup, perturbed near-dup, within-batch
(new x new) dup, unique no-ops, the boilerplate overflow guard, the
one-pass profile shingling, and the plan property (store side never
shuffled — the batch bands broadcast)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from video_duplicate_finder_python_spark import DedupConfig
from video_duplicate_finder_python_spark.corpus import generate_corpus
from video_duplicate_finder_python_spark.functions.signatures import make_shingles_udf
from video_duplicate_finder_python_spark.operators import incremental_probe, verify
from video_duplicate_finder_python_spark.operators.incremental_probe import (
    probe_near_dups,
)
from video_duplicate_finder_python_spark.operators.signature_stage import (
    compute_signatures,
)

CFG = DedupConfig()


def _doc(seed_words, n=120):
    return " ".join(seed_words[i % len(seed_words)] + str(i * 7 % 13) for i in range(n))


@pytest.fixture(scope="module")
def store(spark):
    rows = [
        (f"https://old.example/{i}", _doc([f"w{i}a", f"w{i}b", f"w{i}c", "base"]))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    return compute_signatures(df, CFG, keep_cols=["url", "text"]).persist()


def _fixture_batch(spark, store):
    """An exact copy of a store doc, a ~1.7%-token perturbation of another,
    a unique doc and a within-batch duplicate pair."""
    old0 = store.where("url = 'https://old.example/0'").collect()[0]["text"]
    old1 = store.where("url = 'https://old.example/1'").collect()[0]["text"]
    near = old1.split(" ")
    near[3], near[17] = "changedx", "changedy"  # ~1.7% token change
    batch_dup = _doc(["bdupa", "bdupb", "bdupc", "fresh"])
    rows = [
        ("https://new.example/exact", old0),
        ("https://new.example/near", " ".join(near)),
        ("https://new.example/unique", _doc(["zq1", "zq2", "zq3", "only"])),
        ("https://new.example/pair1", batch_dup),
        ("https://new.example/pair2", batch_dup),
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_probe_finds_expected_pairs(spark, store):
    new_docs = _fixture_batch(spark, store)
    pairs, overflow, caches = probe_near_dups(store, new_docs, CFG)
    got = {
        (r.new_url, r.other_url, r.is_new_other): r
        for r in pairs.where("is_dup").collect()
    }
    assert overflow.count() == 0

    k = ("https://new.example/exact", "https://old.example/0", False)
    assert k in got and got[k].jaccard == pytest.approx(1.0)
    k = ("https://new.example/near", "https://old.example/1", False)
    assert k in got and got[k].jaccard >= CFG.jaccard_threshold
    # within-batch dup found once, as a new-new pair
    assert ("https://new.example/pair1", "https://new.example/pair2", True) in got
    # unique doc pairs with nothing; no spurious cross pairs
    assert all(
        "unique" not in a and "unique" not in b for (a, b, _) in got
    )
    for c in caches:
        c.unpersist()


def test_probe_shingles_each_profile_url_once(spark, store, monkeypatch, sql_plans):
    """The verify profiles (the batch plus the matched store docs) are
    shingled in one pass: both sides of the scoring join and the span
    check read one materialized frame, so every profile url goes through
    the shingle UDF exactly once, in one Arrow batch at this size. The
    fixture's pairs are unchanged, every column of every row.

    The same at the streaming workload's size — a 50-page batch whose url
    column is non-null (the ingest's pages schema) against a 400-page
    store: the scoring join's two sides read ONE broadcast of the profile
    frame. With two, both broadcast jobs first-touch the lazy profile cut
    at once, and the shingle UDF can run twice."""
    sc = spark.sparkContext
    rows, calls = sc.accumulator(0), sc.accumulator(0)

    def counting_shingles_udf(k):
        inner = make_shingles_udf(k).func

        @F.pandas_udf(T.ArrayType(T.LongType(), False))
        def shingles_udf(text: pd.Series) -> pd.Series:
            rows.add(len(text))
            calls.add(1)
            return inner(text)

        return shingles_udf

    monkeypatch.setattr(verify, "make_shingles_udf", counting_shingles_udf)
    new_docs = _fixture_batch(spark, store)
    pairs, _, _ = incremental_probe.probe_near_dups(store, new_docs, CFG)
    got = sorted(tuple(r) for r in pairs.collect())

    assert got == [
        ("https://new.example/exact", "https://old.example/0", False, 1.0, 0, None, True),
        ("https://new.example/near", "https://old.example/1", False,
         0.8524590163934426, 8, None, True),
        ("https://new.example/pair1", "https://new.example/pair2", True, 1.0, 0, None, True),
    ]
    store_matches = {r[1] for r in got if not r[2]}
    assert rows.value == new_docs.count() + len(store_matches)
    assert calls.value == 1

    pages = generate_corpus(seed=11, n_docs=450).pages[["url", "text"]]
    big_store = compute_signatures(
        spark.createDataFrame(pages[:400], "url string, text string"),
        CFG,
        keep_cols=["url", "text"],
    )
    batch = spark.createDataFrame(pages[400:], "url string not null, text string")
    rows0, calls0 = rows.value, calls.value
    with sql_plans() as plans:
        pairs, overflow, _ = incremental_probe.probe_near_dups(big_store, batch, CFG)
        got = pairs.collect()
        assert overflow.count() == 0
    store_matches = {r.other_url for r in got if not r.is_new_other}
    assert store_matches and any(r.is_dup for r in got)
    assert rows.value - rows0 == 50 + len(store_matches)
    assert calls.value - calls0 == 1
    # verify's two scoring-join sides project the profiles to _sh_a and
    # _sh_b; one broadcast of the first feeds both joins
    assert [n for p in plans for n in p.broadcast_consumers(" AS _sh_")] == [2]


def test_overflow_guard(spark, store):
    boiler = _doc(["common", "boiler", "plate", "page"])
    old = spark.createDataFrame(
        [(f"https://old.example/b{i}", boiler) for i in range(20)],
        "url string, text string",
    )
    big_store = compute_signatures(old, CFG, keep_cols=["url", "text"])
    new_docs = spark.createDataFrame(
        [("https://new.example/boiler", boiler)], "url string, text string"
    )
    pairs, overflow, caches = probe_near_dups(big_store, new_docs, CFG, max_matches_per_doc=5)
    ov = overflow.collect()
    assert len(ov) == 1 and ov[0].new_url == "https://new.example/boiler"
    assert ov[0].n_matches == 20
    assert pairs.where("not is_new_other").count() == 0  # diverted, not exploded
    for c in caches:
        c.unpersist()


# plan nodes where rows stop streaming through: joins and exchanges
_BOUNDARY = {
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
}


def test_store_side_not_shuffled(spark, store, sql_plans, tmp_path):
    """Over every SQL execution the probe runs (its lazy-checkpoint cuts,
    the pairs collect and the overflow count), the store's rows reach a
    broadcast hash join, on its streamed side, before any shuffle — the
    batch side is built, the store is never shuffled. That holds for the
    store ⋈ batch-keys join (the first join above the store-side
    explode) as well as for the joins that filter the store rows."""
    store_dir = str(tmp_path / "store")
    store.write.parquet(store_dir)
    new_docs = _fixture_batch(spark, store)
    with sql_plans() as plans:
        pairs, overflow, _ = probe_near_dups(spark.read.parquet(store_dir), new_docs, CFG)
        assert pairs.where("is_dup").count() == 3
        assert overflow.count() == 0

    scans = key_joins = 0
    for p in plans:
        for node in p.named("Scan parquet"):
            scans += 1
            joined = exploded = False
            while node in p.parents:
                node = p.parents[node][0]
                name = p.nodes[node][0]
                if name == "Generate":
                    exploded = True
                elif name == "Exchange":
                    # a shuffle above store rows only once a broadcast
                    # join has cut them down to the batch's matches
                    assert joined, p.description
                    break
                elif name in _BOUNDARY:
                    # the store rows stream into a broadcast hash join (a
                    # broadcast of the store rows themselves fails here)
                    assert name == "BroadcastHashJoin", (p.description, name)
                    joined = True
                    key_joins += exploded
                    exploded = False
    assert scans >= 2 and key_joins >= 1


def test_probe_batch_job(spark, store, tmp_path):
    """jobs/probe_batch.py end-to-end in a subprocess (the job owns its
    session): store parquet + new pages parquet -> verified pairs."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    store_dir = str(tmp_path / "store")
    store.write.mode("overwrite").parquet(store_dir)

    old0 = store.where("url = 'https://old.example/0'").collect()[0]["text"]
    pages = spark.createDataFrame(
        [
            ("https://new.example/exact", None,
             f"<html><head><title>t</title></head><body><p>{old0}</p></body></html>".encode(),
             None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    inp = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "pairs")

    env = dict(os.environ)
    env["PYTHONPATH"] = str(repo)
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[4] --conf spark.sql.shuffle.partitions=8 pyspark-shell"
    )
    proc = subprocess.run(
        [sys.executable, str(repo / "jobs" / "probe_batch.py"),
         "--store", store_dir, "--input", inp, "--output", out],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("VDF_PROBE_SUMMARY ")
    )
    summary = json.loads(line.split(" ", 1)[1])
    assert summary["pairs"] == 1
    assert summary["rows_written"] == 1
    assert summary["overflow_docs"] == 0
    rows = spark.read.parquet(out).collect()
    assert rows[0].new_url == "https://new.example/exact"
    assert rows[0].other_url == "https://old.example/0"
    assert rows[0].jaccard == 1.0


def test_substring_source_catches_low_jaccard_span(spark, store):
    """A new doc sharing a >=500-char verbatim span with a store doc at
    Jaccard ~0.33 is invisible to the band probe but caught by the
    CDC-fingerprint source + anchored-span verification (the pipeline's
    'suffix' class, now incremental)."""
    span = " ".join(f"sp{j}x{j % 9}" for j in range(150))       # ~900 chars
    tail_a = " ".join(f"oa{j}h{j % 7}" for j in range(300))
    tail_b = " ".join(f"nb{j}k{j % 7}" for j in range(300))
    old = spark.createDataFrame(
        [("https://old.example/span", span + " " + tail_a)], "url string, text string"
    )
    span_store = compute_signatures(old, CFG, keep_cols=["url", "text"])
    new_docs = spark.createDataFrame(
        [("https://new.example/span", span + " " + tail_b)], "url string, text string"
    )
    pairs, overflow, caches = probe_near_dups(span_store, new_docs, CFG)
    got = pairs.collect()
    assert overflow.count() == 0
    for c in caches:
        c.unpersist()
    assert len(got) == 1
    r = got[0]
    assert r.other_url == "https://old.example/span"
    assert r.jaccard < CFG.jaccard_threshold          # bands alone miss it
    assert r.lcs_len >= CFG.substring_min_len
    assert r.is_dup

    # substring=False prunes the source: no pair at all
    pairs2, _, caches2 = probe_near_dups(
        span_store.drop("fingerprints"), new_docs, CFG, substring=False
    )
    assert pairs2.count() == 0
    for c in caches2:
        c.unpersist()

    # substring=True on a store without fingerprints is a loud error
    with pytest.raises(ValueError):
        probe_near_dups(span_store.drop("fingerprints"), new_docs, CFG)


def test_recrawl_batch_url_shadows_store_row(spark, store):
    """A url in BOTH batch and store (streaming re-crawl: probe runs
    before the upsert) must not create ambiguous/conflicting pairs: the
    batch's text is authoritative for its own url, the store row it
    shadows is excluded from candidates and profiles. A second batch doc
    duplicating that url pairs against the BATCH text exactly once."""
    recrawl_text = _doc(["rc1", "rc2", "rc3", "fresh"])
    new_docs = spark.createDataFrame(
        [
            # re-crawl of an existing store url with drifted content
            ("https://old.example/0", recrawl_text),
            # another batch doc duplicating the re-crawled content
            ("https://new.example/twin", recrawl_text),
        ],
        "url string, text string",
    )
    pairs, overflow, caches = probe_near_dups(store, new_docs, CFG)
    got = pairs.collect()
    assert overflow.count() == 0
    for c in caches:
        c.unpersist()
    # exactly ONE pair row: the within-batch twin against the batch text;
    # no pair against the shadowed store version of old.example/0, and no
    # duplicated/conflicting rows for the same pair
    assert len(got) == 1
    r = got[0]
    assert {r.new_url, r.other_url} == {
        "https://old.example/0",
        "https://new.example/twin",
    }
    assert r.is_new_other and r.is_dup and r.jaccard == 1.0


def test_probe_leaves_no_cached_frames(spark):
    """The probe persists nothing: its reused intermediates are lazy
    localCheckpoint cuts, which never enter the session's cache manager.
    After its actions and unpersisting whatever handles it returns, the
    cache manager is empty."""
    spark.catalog.clearCache()  # earlier fixtures may hold cached frames
    old = spark.createDataFrame(
        [(f"https://old.example/{i}", _doc([f"c{i}a", f"c{i}b", "base"])) for i in range(6)],
        "url string, text string",
    )
    store = compute_signatures(old, CFG, keep_cols=["url", "text"])
    new_docs = spark.createDataFrame(
        [("https://new.example/copy", _doc(["c0a", "c0b", "base"]))],
        "url string, text string",
    )
    pairs, overflow, caches = probe_near_dups(store, new_docs, CFG)
    assert pairs.where("is_dup").count() >= 1
    assert overflow.count() == 0
    for c in caches:
        c.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
