"""Resumability: stage checkpoints and their invalidation (O3)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline
from video_duplicate_finder_python_spark.corpus import generate_corpus, pages_spark_df


@pytest.fixture()
def ckdir(tmp_path):
    d = tmp_path / "ck"
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def test_rerun_resumes_every_stage_from_checkpoint(spark, ckdir):
    corpus = generate_corpus(seed=5, n_docs=80)
    pages = pages_spark_df(spark, corpus)

    res1 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckdir).run(pages)
    clusters1 = sorted(map(tuple, res1.clusters.collect()))
    assert not any(m["cached"] for m in res1.metrics.values())

    # a full resume reads every stage with the schema its _metrics.json
    # stores: the input digest is its only Spark job (no footer-inference
    # job per cached stage)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(DedupPipeline.JOB_GROUP))
    res2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckdir).run(pages)
    resume_jobs = set(tracker.getJobIdsForGroup(DedupPipeline.JOB_GROUP)) - before
    assert all(m["cached"] for m in res2.metrics.values()), res2.metrics
    assert len(resume_jobs) == len(digest_jobs(spark, pages)), sorted(resume_jobs)
    clusters2 = sorted(map(tuple, res2.clusters.collect()))
    assert clusters1 == clusters2
    # the stored schema is the one inference would have found
    for name in ("clusters", "pairs", "exact_edges"):
        inferred = spark.read.parquet(f"{ckdir}/{name}").schema
        assert getattr(res2, name).schema == inferred


def digest_jobs(spark, pages) -> set[int]:
    """Spark job ids that ``DedupPipeline.input_digest(pages)`` runs."""
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup(DedupPipeline.JOB_GROUP, "digest")
    before = set(tracker.getJobIdsForGroup(DedupPipeline.JOB_GROUP))
    DedupPipeline.input_digest(pages)
    return set(tracker.getJobIdsForGroup(DedupPipeline.JOB_GROUP)) - before


def test_input_digest_recomputes_a_missing_observation(spark, monkeypatch):
    """The digest's aggregates ride a no-op write as an Observation. When
    no result arrives, the digest runs the aggregate in a job of its own:
    a non-empty input never reads as the empty corpus's ``0:0``."""
    from video_duplicate_finder_python_spark.plans import pipeline as pipeline_mod

    pages = pages_spark_df(spark, generate_corpus(seed=5, n_docs=20))
    want = DedupPipeline.input_digest(pages)
    assert want.startswith("20:") and want != "20:0"
    monkeypatch.setattr(pipeline_mod, "observed_metrics", lambda obs: None)
    assert DedupPipeline.input_digest(pages) == want
    monkeypatch.undo()
    assert DedupPipeline.input_digest(pages.limit(0)) == "0:0"


def test_changed_input_invalidates(spark, ckdir):
    corpus = generate_corpus(seed=5, n_docs=60)
    pages = pages_spark_df(spark, corpus)
    DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckdir).run(pages)

    corpus2 = generate_corpus(seed=5, n_docs=61)
    pages2 = pages_spark_df(spark, corpus2)
    res = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckdir).run(pages2)
    assert not res.metrics["docs"]["cached"]


def test_content_rewrite_at_fixed_url_ts_invalidates(spark, ckdir):
    """Round-2 verdict item #8: a byte-rewrite that keeps (url, warc_ts)
    fixed — the residual staleness hole the old two-column digest had —
    must invalidate the stage fingerprints via the length(html) signal."""
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages1 = spark.createDataFrame(
        [("https://x/1", None, b"<html><body><p>original body text</p></body></html>", None, "en")],
        schema,
    )
    res1 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckdir).run(pages1)
    assert not res1.metrics["docs"]["cached"]

    pages2 = spark.createDataFrame(
        [("https://x/1", None, b"<html><body><p>rewritten and longer body text</p></body></html>", None, "en")],
        schema,
    )
    res2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckdir).run(pages2)
    assert not res2.metrics["docs"]["cached"], (
        "same (url, warc_ts), different bytes → stages must recompute"
    )


def test_changed_config_invalidates(spark, ckdir):
    corpus = generate_corpus(seed=5, n_docs=60)
    pages = pages_spark_df(spark, corpus)
    DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckdir).run(pages)
    res = DedupPipeline(
        spark, DedupConfig(jaccard_threshold=0.7), checkpoint_dir=ckdir
    ).run(pages)
    assert not res.metrics["docs"]["cached"]



def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_durable_run_on_a_uri_checkpoint_dir(spark, tmp_path):
    """``--checkpoint-dir s3://…`` is the documented deployment: a
    checkpoint dir given as a URI (here ``file://``) runs every stage,
    resumes every stage cached, and gives the in-memory run's output."""
    pages = pages_spark_df(spark, generate_corpus(seed=5, n_docs=60))
    uri = (tmp_path / "ck").as_uri()
    assert uri.startswith("file:///")

    res1 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=uri).run(pages)
    assert len(res1.metrics) == 7
    assert not any(m["cached"] for m in res1.metrics.values())
    res2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=uri).run(pages)
    assert all(m["cached"] for m in res2.metrics.values()), res2.metrics
    for name, m in res1.metrics.items():
        assert res2.metrics[name]["rows_out"] == m["rows_out"], name

    mem = DedupPipeline(spark, DedupConfig()).run(pages)
    assert mem.metrics["clusters"]["rows_out"] > 0
    for res in (res1, res2):
        assert _rows(res.clusters) == _rows(mem.clusters)
        assert _rows(res.pairs) == _rows(mem.pairs)


def test_crash_between_stage_write_and_its_meta_recomputes(spark, ckdir, monkeypatch):
    """A run that dies after a stage's parquet overwrite but before its
    ``_metrics.json`` must not leave the previous run's meta describing
    the new rows: the overwrite deleted the old meta with the old data,
    so the next run recomputes that stage."""
    from video_duplicate_finder_python_spark.sources.storage import Storage

    pages = pages_spark_df(spark, generate_corpus(seed=5, n_docs=60))
    cfg_a, cfg_b = DedupConfig(), DedupConfig(jaccard_threshold=0.5)
    res_a = DedupPipeline(spark, cfg_a, checkpoint_dir=ckdir).run(pages)
    pairs_a, clusters_a = _rows(res_a.pairs), _rows(res_a.clusters)

    write_json = Storage.write_json

    def crash_on_pairs_meta(self, rel, doc):
        if rel == "pairs/_metrics.json":
            raise OSError("injected crash before the pairs meta")
        write_json(self, rel, doc)

    monkeypatch.setattr(Storage, "write_json", crash_on_pairs_meta)
    with pytest.raises(OSError, match="injected crash"):
        DedupPipeline(spark, cfg_b, checkpoint_dir=ckdir).run(pages)
    monkeypatch.undo()
    # config B's rows are on disk with no meta; they differ from A's
    assert _rows(spark.read.parquet(f"{ckdir}/pairs")) != pairs_a

    res = DedupPipeline(spark, cfg_a, checkpoint_dir=ckdir).run(pages)
    assert not res.metrics["pairs"]["cached"]
    assert _rows(res.pairs) == pairs_a
    assert _rows(res.clusters) == clusters_a

    # a torn meta reads as no meta: that stage recomputes
    (Path(ckdir) / "clusters" / "_metrics.json").write_text('{"fingerprint": ')
    res = DedupPipeline(spark, cfg_a, checkpoint_dir=ckdir).run(pages)
    assert res.metrics["pairs"]["cached"] and not res.metrics["clusters"]["cached"]
    assert _rows(res.clusters) == clusters_a
