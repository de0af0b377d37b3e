"""The benchmark's own tests: input determinism, metric names, the output
checkers, and the span arithmetic of the traced run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402
import workloads as W  # noqa: E402
from spans import SpanRecorder  # noqa: E402
from truth import DupTruth  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- inputs -------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    from launch import WorkDir, configure_env, start_spark, stop_spark

    work = WorkDir()
    configure_env(work)
    s = start_spark(work, 2, traced=False)
    yield s, work
    stop_spark(s)
    work.remove()


class _SmallPipeline(W.Pipeline):
    N_DOCS = 120


def _digest(spark, seed: int, attempt: int) -> str:
    s, work = spark
    wl = _SmallPipeline(s, work, seed, None, None)
    wl.prepare(attempt)
    return wl.digest()


def test_same_seed_same_corpus_digest(spark):
    assert _digest(spark, 5, 0) == _digest(spark, 5, 1)
    assert _digest(spark, 5, 0) != _digest(spark, 6, 2)


def test_vectors_and_batches_follow_the_seed():
    def vecs(seed):
        wl = W.MediaSemdedup(None, None, seed, None, None)
        return wl._vectors()

    assert (vecs(3) == vecs(3)).all()
    assert not (vecs(3) == vecs(4)).all()

    def batch(seed):
        wl = W.IngestProbe(None, None, seed, None, None)
        wl.mirror = {f"u{i}": f"tok{i:04d} " * 20 for i in range(30)}
        wl.vocab = sorted({t for x in wl.mirror.values() for t in x.split()})
        import numpy as np

        wl.rng = np.random.default_rng([seed, 17])
        return wl.make_batch(1)

    assert batch(3) == batch(3)
    assert batch(3) != batch(4)


# -- metric names ---------------------------------------------------------------
def test_end_to_end_names_equal_spec():
    got = run.end_to_end_metrics(
        setup_s=1.0, measured=[W.OpResult(wall_s=2.0, docs=10, cpu_s=3.0)], check=W.Check(),
        peak_mb=1.0,
    )
    assert sorted(got) == sorted(m["name"] for m in SPEC["end_to_end"])


def test_per_layer_names_equal_spec():
    names = {m["name"] for m in SPEC["per_layer"]}
    layers = {n.split(".", 1)[0] for n in names}
    classes = list(W.WORKLOADS.values()) + list(W.TRACED.values())
    owned = {layer for w in classes for layer in w.LAYERS}
    assert layers == owned | {"trace"}
    # every metric of a layer a workload owns must be produced by it
    with pytest.raises(KeyError):
        run.emit(SPEC, {"trace.overhead_ratio": 1.0}, W.Pipeline.LAYERS, traced=True)
    full = {n: 1.0 for n in names}
    out = run.emit(SPEC, full, W.IngestProbe.LAYERS, traced=True)
    assert sorted(out) == sorted(names)
    assert out["text.self_s"]["value"] == 0.0  # bypassed layer
    assert out["ingest.upsert_s"]["value"] == 1.0


def test_spec_shape():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in SPEC["workloads"]] == list(W.WORKLOADS)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


# -- output checkers --------------------------------------------------------------
@pytest.fixture(scope="module")
def small_corpus():
    from video_duplicate_finder_python_spark.corpus import generate_corpus

    return generate_corpus(seed=11, n_docs=240)


def test_truth_matches_oracle(small_corpus):
    from video_duplicate_finder_python_spark.oracle import run_oracle

    o = run_oracle(small_corpus.pages, small_corpus.truth_pairs)
    expect = set(zip(o.pairs["url_a"], o.pairs["url_b"]))
    got = DupTruth().dup_pairs(dict(zip(small_corpus.pages["url"], small_corpus.pages["text"])))
    assert expect and got == expect


def test_lcs_run_check_edges():
    t = DupTruth(min_span=60)
    span = " ".join(f"tok{i:04d}" for i in range(8))  # 63 chars
    a = "aaa zzz " + span + " qqq"
    b = "bbb yzz " + span + " qqr"
    # run of 8 whole tokens (63 chars) + "zz " on the left + " qq" on the right
    assert t.lcs_at_least(a, b)
    assert DupTruth(min_span=70).lcs_at_least(a, b) is False


def _clusters_from(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return {u: find(u) for u in parent}


def test_pipeline_checker_flags_a_deleted_pair(small_corpus):
    texts = dict(zip(small_corpus.pages["url"], small_corpus.pages["text"]))
    wl = W.Pipeline(None, None, 0, None, None)
    wl.texts = texts
    truth = sorted(wl.truth.dup_pairs(texts))
    ok = W.OpResult(1.0, len(texts), {"clusters": _clusters_from(truth), "pairs": truth})
    assert wl.check([ok]).failures == []
    # drop one doc's membership: the truth pairs through it count as missed
    a, b = truth[0]
    bad_clusters = dict(ok.output["clusters"])
    del bad_clusters[b]
    bad = W.OpResult(1.0, len(texts), {"clusters": bad_clusters, "pairs": truth})
    c = wl.check([bad])
    assert c.truth - c.hits == sum(1 for p in truth if b in p)
    assert c.failures == []  # one miss is within the run-level floor
    # below the floor over the run, every operation fails, and says why
    for x, y in truth[: len(truth) // 5]:
        bad_clusters.pop(y, None)
    c = wl.check([ok, bad])
    assert c.recall < W.RECALL_MIN
    assert c.failed_ops == {0, 1}
    assert any(f.startswith("pipeline: recall over 2 ops") for f in c.failures)


def test_probe_checker_flags_a_deleted_pair(small_corpus):
    texts = dict(zip(small_corpus.pages["url"], small_corpus.pages["text"]))
    urls = sorted(texts)
    batch = {u: texts[u] for u in urls[::3]}
    store = {u: texts[u] for u in urls if u not in batch}
    wl = W.IngestProbe(None, None, 0, None, None)
    wl.batches, wl.stores_before = [batch], [store]
    truth = sorted(wl.truth.dup_pairs(batch, store))
    assert truth
    full = W.OpResult(1.0, len(batch), {"pairs": truth, "overflow": 0})
    assert wl.check([full]).failures == []
    cut = W.OpResult(1.0, len(batch), {"pairs": truth[1:], "overflow": 0})
    c = wl.check([cut])
    assert c.hits == c.truth - 1
    assert (c.recall < W.RECALL_MIN) == any("recall" in f for f in c.failures)
    cut = W.OpResult(1.0, len(batch), {"pairs": truth[len(truth) // 10 + 1 :], "overflow": 0})
    assert any("recall" in f for f in wl.check([cut]).failures)
    extra = next((a, b) for a in batch for b in store if (min(a, b), max(a, b)) not in set(truth))
    wrong = W.OpResult(1.0, len(batch), {"pairs": truth + [extra], "overflow": 0})
    c = wl.check([wrong])
    assert c.claimed == len(truth) + 1 and c.confirmed == len(truth)


# -- spans ------------------------------------------------------------------------
def test_stage_spans_plus_unassigned_sum_to_wall():
    jobs = iter(range(1000))
    seen: list[int] = []

    def job_ids():
        seen.append(next(jobs))
        return list(seen)

    rec = SpanRecorder(job_ids)
    hook, finish = rec.stage_hook("stage:")
    t0 = time.monotonic()
    with rec.span("pipeline.run"):
        time.sleep(0.01)  # before the first stage: unassigned
        for stage in ("docs", "rep_docs", "signatures"):
            hook(stage)
            time.sleep(0.01)
        finish()
    with rec.span("output"):
        time.sleep(0.01)
    wall = time.monotonic() - t0
    split = W.split_stages(rec, wall)
    assert set(split.stages) == {"docs", "rep_docs", "signatures"}
    total = sum(d for d, _ in split.stages.values()) + split.unassigned_s
    assert total == pytest.approx(wall, abs=1e-9)
    assert split.unassigned_s >= 0.02
    # every job id observed is attributed to exactly one span
    claimed = [j for s in rec.spans for j in s.jobs]
    assert len(claimed) == len(set(claimed))


def test_self_time_subtracts_children():
    rec = SpanRecorder()
    with rec.span("media_dedup"):
        with rec.span("media_dedup.frame_hash"):
            time.sleep(0.02)
        time.sleep(0.01)
    assert 0.005 < rec.self_time(0) < rec.spans[0].duration - 0.015
