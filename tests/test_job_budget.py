"""The pipeline's and the probe's Spark-job and Python-task budgets.

At a few hundred pages the pipeline pays per Spark job (~0.1 CPU-s of
driver and JVM work each) and per Python-UDF task (~0.2 CPU-s), not per
row (README "Scale design"). Jobs are counted per stage by diffing the
pipeline's job group at the ``on_stage_start`` boundaries
(``StageJobCounter``, which scripts/scaling.py samples too); ``<input>``
is the input digest, run before the first stage. The probe's jobs are
counted the same way, under a job group of the test's own.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline
from video_duplicate_finder_python_spark.corpus import pages_spark_df
from video_duplicate_finder_python_spark.functions.signatures import make_shingles_udf
from video_duplicate_finder_python_spark.operators import verify
from video_duplicate_finder_python_spark.operators.incremental_probe import probe_near_dups
from video_duplicate_finder_python_spark.operators.signature_stage import compute_signatures
from video_duplicate_finder_python_spark.plans.pipeline import StageJobCounter

# per-stage job ceilings of a durable-dir run on the 240-doc fixture: a
# stage is its write plus the jobs that carry a data decision (AQE query
# stages, broadcasts); no schema-inference read-back, no counter job. The
# fixture frame is a round-robin repartition, so each pass over the pages
# (the digest, the extract) runs its shuffle stage as one more job. The
# candidates stage persists its bucket ranking, so both self-join sides
# read one ranking; AQE materializes that cache in query stages of its
# own, two jobs more than ranking on each side.
BUDGET = {
    "<input>": 2,
    "docs": 2,
    "rep_docs": 3,
    "exact_edges": 2,
    "signatures": 2,
    "candidates": 6,
    "pairs": 6,
    "clusters": 2,
}
# the same run's ``pairs`` stage with broadcasts disabled: the profile
# frame reaches the scoring join through shuffles instead of one
# broadcast, so the stage's write sits on more AQE query stages
UNBROADCAST_PAIRS_BUDGET = 9


def _count_shingle_calls(spark, monkeypatch):
    """Wrap verify's shingle UDF: → (rows, calls) accumulators."""
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
    return rows, calls


def _run_counted(spark, corpus, ck):
    """A durable-dir pipeline run on the fixture → (result, jobs per stage)."""
    counter = StageJobCounter(spark)
    res = DedupPipeline(
        spark, DedupConfig(), checkpoint_dir=ck, on_stage_start=counter.mark
    ).run(pages_spark_df(spark, corpus))
    counter.mark("")
    return res, counter.jobs


def _assert_one_shingle_pass(res, rows, calls):
    """Every candidate url is shingled once, in one Arrow batch: both
    scoring-join sides and the span check read one profile frame."""
    cands = res.pairs.select("url_a", "url_b").collect()
    cand_urls = {u for r in cands for u in r}
    assert cand_urls
    assert rows.value == len(cand_urls)
    assert calls.value == 1


def test_pipeline_job_budget_and_one_shingle_pass(
    spark, corpus, tmp_path, monkeypatch, sql_plans
):
    rows, calls = _count_shingle_calls(spark, monkeypatch)
    with sql_plans() as plans:
        res, jobs = _run_counted(spark, corpus, str(tmp_path / "ck"))
    assert set(jobs) == set(BUDGET)
    over = {s: (jobs[s], BUDGET[s]) for s in BUDGET if jobs[s] > BUDGET[s]}
    assert not over, f"stages over their job budget (got, budget): {over}; all: {jobs}"

    _assert_one_shingle_pass(res, rows, calls)
    # both scoring-join sides read one broadcast of the profile frame
    assert [n for p in plans for n in p.broadcast_consumers(" AS _sh_")] == [2]

    # the candidates write scans its one input, the signatures checkpoint,
    # once: a single explode builds every source's key rows, below the
    # bucket Exchange
    (cand,) = [
        p for p in plans
        if any("/ck/candidates," in d for n, d in p.nodes.values() if n.startswith("Execute"))
    ]
    (node,) = cand.named("Scan parquet")
    above = []
    while cand.nodes[node][0] != "Exchange":
        (node,) = cand.parents[node]
        above.append(cand.nodes[node][0])
    assert "Generate" in above, above


@pytest.mark.parametrize(
    "width", ["narrowed", "session"], ids=["narrowed-urls", "shuffled-urls"]
)
def test_unbroadcast_profiles_job_budget_and_one_shingle_pass(
    spark, corpus, tmp_path, monkeypatch, width
):
    """With broadcasts disabled the profile frame is not broadcast, yet
    the ``pairs`` stage keeps the one profile shape, texts included: its
    shingle pass is verify's, once per candidate url, and no second text
    fetch adds jobs. At the fixture's session width of 8 the candidate url
    set is deduped at a data-sized width and broadcast; at a width of 1
    nothing is narrowed and the url set is deduped by a shuffle."""
    from test_pipeline_end_to_end import _session_conf

    rows, calls = _count_shingle_calls(spark, monkeypatch)
    conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    if width == "session":
        conf["spark.sql.shuffle.partitions"] = "1"
    with _session_conf(spark, conf):
        res, jobs = _run_counted(spark, corpus, str(tmp_path / "ck"))
        assert jobs["pairs"] <= UNBROADCAST_PAIRS_BUDGET, jobs
        _assert_one_shingle_pass(res, rows, calls)


# one probe_near_dups call on the probe fixture, then the caller's two
# actions. The build runs the exchanges under its lazy-checkpoint cuts
# (AQE executes them when the cut is made): the batch-url and batch-key
# broadcasts, the candidate groupBy, the degree groupBy, the overflow
# broadcast, the candidate-url broadcast, the profile REBALANCE and ONE
# profile broadcast for both scoring-join sides. The collect is the span
# REBALANCE plus its result; the count reads the cut overflow set.
PROBE_BUDGET = {"probe": 8, "pairs": 2, "overflow": 2}


def test_probe_job_budget(spark):
    from test_incremental_probe import CFG, _doc, _fixture_batch

    rows = [
        (f"https://old.example/{i}", _doc([f"w{i}a", f"w{i}b", f"w{i}c", "base"]))
        for i in range(30)
    ]
    store = compute_signatures(
        spark.createDataFrame(rows, "url string, text string"), CFG, keep_cols=["url", "text"]
    ).persist()
    store.count()
    new_docs = _fixture_batch(spark, store)

    spark.sparkContext.setJobGroup("probe-job-budget", "probe job budget")
    counter = StageJobCounter(spark, first="probe", group="probe-job-budget")
    pairs, overflow, _ = probe_near_dups(store, new_docs, CFG)
    counter.mark("pairs")
    assert sum(r.is_dup for r in pairs.collect()) == 3
    counter.mark("overflow")
    assert overflow.count() == 0
    counter.mark("")
    store.unpersist()
    over = {
        k: (counter.jobs[k], PROBE_BUDGET[k])
        for k in PROBE_BUDGET
        if counter.jobs[k] > PROBE_BUDGET[k]
    }
    assert not over, f"probe spans over their job budget (got, budget): {over}"
