"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts after the previous one returns.

A workload has three parts:

- ``prepare``: make the seeded inputs and whatever the engine needs
  before the first operation (a signature store, IVF centroids). It is
  timed as part of ``setup_s``.
- ``op``: one operation through the engine's public calls, output
  collected to the driver. Its wall is the measured latency.
- ``check``: compare every operation's output with independent truth
  (``truth.py``), after the measured loop.

The engine receives only the generated inputs; the seed never reaches it.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pandas as pd

from truth import DupTruth, cooccurrence_recall

STAGE_LAYERS = {
    "docs": "text",
    "rep_docs": "exact",
    "exact_edges": "exact",
    "signatures": "signature_stage",
    "candidates": "bucket_join",
    "pairs": "verify",
    "clusters": "connected_components",
}
# Sanity floors. Precision is checked per operation: the engine verifies
# every pair exactly. Recall is checked over all operations of a run: the
# candidate sources are probabilistic (LSH bands catch a pair at Jaccard
# 0.8 with probability ~0.95, CDC fingerprints most 500-char spans), and
# an ingest batch holds only ~40 truth pairs, so one miss moves a
# per-batch recall by 2.5%. The metric's own bound tracks smaller drift.
RECALL_MIN = 0.95
PRECISION_MIN = 0.99
_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


@dataclass
class OpResult:
    wall_s: float
    docs: int
    output: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU of the driver, its JVM and Python workers
    counts: dict = field(default_factory=dict)  # per-layer counters


@dataclass
class Check:
    hits: int = 0          # truth pairs the engine found
    truth: int = 0         # truth pairs
    confirmed: int = 0     # engine dup pairs the exact check confirms
    claimed: int = 0       # engine dup pairs
    failures: list[str] = field(default_factory=list)
    failed_ops: set = field(default_factory=set)

    def add(self, other: "Check", op: int | None = None) -> None:
        """Fold in the check of operation ``op``, or (``op=None``) a check
        that already names its failed operations."""
        self.hits += other.hits
        self.truth += other.truth
        self.confirmed += other.confirmed
        self.claimed += other.claimed
        self.failures += other.failures
        if op is None:
            self.failed_ops |= other.failed_ops
        elif other.failures:
            self.failed_ops.add(op)

    @property
    def recall(self) -> float:
        return self.hits / self.truth if self.truth else 1.0

    @property
    def precision(self) -> float:
        return self.confirmed / self.claimed if self.claimed else 1.0

    def verdict(self, what: str) -> list[str]:
        """Per-operation check: precision."""
        if self.precision < PRECISION_MIN:
            return [
                f"{what}: precision {self.precision:.4f} < {PRECISION_MIN} "
                f"({self.confirmed}/{self.claimed})"
            ]
        return []

    def check_recall(self, what: str, n_ops: int) -> None:
        """Run-level check: recall over every operation. Below the floor,
        every operation counts as failed."""
        if self.recall < RECALL_MIN:
            self.failures.append(
                f"{what}: recall over {n_ops} ops {self.recall:.4f} < {RECALL_MIN} "
                f"({self.hits}/{self.truth})"
            )
            self.failed_ops |= set(range(n_ops))


@dataclass
class StageSplit:
    stages: dict  # stage -> (span duration s, job ids)
    unassigned_s: float
    jobs: list


def split_stages(rec, wall: float) -> StageSplit:
    """The most recent traced pipeline job, split by stage: each stage
    span's duration and jobs, and the rest of the job wall (before the
    first stage, and collecting the output) as ``unassigned_s``."""
    run_idx = max(i for i, s in enumerate(rec.spans) if s.name == "pipeline.run")
    out_idx = max(i for i, s in enumerate(rec.spans) if s.name == "output")
    stages = {}
    jobs = list(rec.spans[run_idx].jobs) + list(rec.spans[out_idx].jobs)
    for i, child in enumerate(rec.spans):
        if child.parent == run_idx:
            stages[child.name.split(":", 1)[1]] = (rec.self_time(i), list(child.jobs))
            jobs += child.jobs
    return StageSplit(stages, wall - sum(d for d, _ in stages.values()), jobs)


def dir_bytes(path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def wrap_html(title: str, text: str) -> bytes:
    return (
        b"<html><head><title>" + title.encode() + b"</title></head><body><p>"
        + text.encode("utf-8")
        + b"</p></body></html>"
    )


def corpus_digest(urls, texts) -> str:
    h = hashlib.blake2b(digest_size=16)
    for u, t in sorted(zip(urls, texts)):
        h.update(u.encode())
        h.update(b"\0")
        h.update(t.encode())
        h.update(b"\1")
    return h.hexdigest()


def write_pages(spark, work, n_docs: int, seed: int, attempt: int) -> tuple[Path, dict]:
    """The seeded synthetic page corpus (planted exact/near/substring
    duplicates and a boilerplate hot bucket), generated on the executors
    and written once per set-up attempt as parquet; → (its dir, url ->
    text). Workloads of one run that ask for the same corpus share it."""
    from video_duplicate_finder_python_spark.corpus_distributed import (
        generate_pages_distributed,
    )

    path = work.path / f"pages-{seed}-{n_docs}-{attempt}"
    if not (path / "_SUCCESS").exists():
        generate_pages_distributed(
            spark, n_docs, seed=seed, partitions=spark.sparkContext.defaultParallelism * 2
        ).write.mode("overwrite").parquet(str(path))
    texts = pd.read_parquet(path, columns=["url", "text"])
    return path, dict(zip(texts["url"], texts["text"]))


class Workload:
    name = ""
    LAYERS: tuple = ()  # per-layer metric prefixes this workload measures
    # unmeasured operations before the measured ones: the JIT compiles the
    # engine's code paths through the first few, and an operation's CPU
    # time falls by half from the first to the third
    WARMUP_OPS = 2

    def __init__(self, spark, work, seed: int, recorder, metrics):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rec = recorder      # SpanRecorder, or None when untraced
        self.task_metrics = metrics  # SparkTaskMetrics, or None
        self.truth = DupTruth()
        self.setup_layers: dict = {}

    def span(self, name: str):
        if self.rec is None:
            return _NULL
        return self.rec.span(name)

    def tasks(self, jobs: list[int]) -> dict:
        t = self.task_metrics.for_jobs(jobs)
        return {
            "jobs": t.jobs,
            "tasks": t.tasks,
            "cpu_s": t.cpu_s,
            "shuffle_read_mb": t.shuffle_read_mb,
            "shuffle_write_mb": t.shuffle_write_mb,
            "spill_mb": t.spill_mb,
            "task_skew": t.task_skew,
        }

    # overridden
    def prepare(self, attempt: int) -> None: ...
    def op(self, i: int, traced: bool) -> OpResult: ...
    def check(self, results: list[OpResult]) -> Check: ...


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


# ---------------------------------------------------------------------------
class Pipeline(Workload):
    """``DedupPipeline.run`` over the seeded page corpus, run the way the
    cluster job runs it: a fresh durable checkpoint dir per job."""

    name = "pipeline"
    N_DOCS = 500
    LAYERS = ("text", "exact", "signature_stage", "bucket_join", "verify",
              "connected_components", "pipeline", "checkpoint")

    def prepare(self, attempt: int) -> None:
        self.input_dir, self.texts = write_pages(
            self.spark, self.work, self.N_DOCS, self.seed, attempt
        )
        self.pages = self.spark.read.parquet(str(self.input_dir))
        self.input_bytes = dir_bytes(self.input_dir)

    def digest(self) -> str:
        return corpus_digest(self.texts.keys(), self.texts.values())

    def run_once(self, traced: bool):
        from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline

        ck = self.work.path / "checkpoints"
        shutil.rmtree(ck, ignore_errors=True)
        hook = finish = None
        if traced:
            hook, finish = self.rec.stage_hook("stage:")
        t0 = time.monotonic()
        with self.span("pipeline.run"):
            pipe = DedupPipeline(
                self.spark, DedupConfig(), checkpoint_dir=str(ck), on_stage_start=hook
            )
            res = pipe.run(self.pages)
            if finish:
                finish()
        with self.span("output"):
            clusters = res.clusters.toPandas()
            dup_pairs = res.pairs.where("is_dup").select("url_a", "url_b").toPandas()
            exact = res.exact_edges.toPandas()
        wall = time.monotonic() - t0
        return res, clusters, dup_pairs, exact, wall, ck

    def op(self, i: int, traced: bool) -> OpResult:
        res, clusters, dup_pairs, exact, wall, ck = self.run_once(traced)
        out = OpResult(
            wall_s=wall,
            docs=self.N_DOCS,
            output={
                "clusters": dict(zip(clusters["url"], clusters["cluster_id"])),
                "pairs": list(zip(dup_pairs["url_a"], dup_pairs["url_b"]))
                + list(zip(exact["u"], exact["v"])),
            },
        )
        if traced:
            out.counts = self._layers(res, len(dup_pairs), wall, ck)
        shutil.rmtree(ck, ignore_errors=True)
        return out

    def _layers(self, res, n_dup_pairs: int, wall: float, ck) -> dict:
        """Per-layer numbers of the pipeline job just traced."""
        split = split_stages(self.rec, wall)
        layers: dict[str, dict] = {}
        for stage, (dur, jobs) in split.stages.items():
            d = layers.setdefault(STAGE_LAYERS[stage], {"self_s": 0.0, "rows_out": 0, "jobs": []})
            d["self_s"] += dur
            d["rows_out"] += res.metrics[stage]["rows_out"]
            d["jobs"] += jobs
        flat = {}
        for layer, d in layers.items():
            flat[f"{layer}.self_s"] = d["self_s"]
            flat[f"{layer}.rows_out"] = d["rows_out"]
            for k, v in self.tasks(d["jobs"]).items():
                flat[f"{layer}.{k}"] = v
        flat["pipeline.wall_s"] = wall
        flat["pipeline.unassigned_s"] = split.unassigned_s
        flat["pipeline.jobs"] = len(split.jobs)
        counters = res.metrics["candidates"].get("counters", {})
        for src in ("lsh", "simhash", "substring"):
            flat[f"bucket_join.dropped_members.{src}"] = counters.get(f"{src}_dropped_members", 0)
        n_cands = res.metrics["candidates"]["rows_out"]
        flat["bucket_join.useful_ratio"] = n_dup_pairs / n_cands if n_cands else 0.0
        written = dir_bytes(ck)
        flat["checkpoint.bytes_written"] = written
        flat["checkpoint.bytes_per_input_byte"] = written / self.input_bytes
        return flat

    def check(self, results: list[OpResult]) -> Check:
        truth = self.truth.dup_pairs(self.texts)
        verdicts: dict[tuple[str, str], bool] = {}
        total = Check()
        first = results[0].output["clusters"] if results else None
        for n, r in enumerate(results):
            c = Check()
            c.hits, c.truth = cooccurrence_recall(truth, r.output["clusters"])
            for a, b in r.output["pairs"]:
                key = (a, b) if a < b else (b, a)
                if key not in verdicts:
                    verdicts[key] = self.truth.is_dup(self.texts[a], self.texts[b])
                c.claimed += 1
                c.confirmed += verdicts[key]
            c.failures = c.verdict(f"pipeline op {n}")
            if r.output["clusters"] != first:
                c.failures.append(f"pipeline op {n}: cluster members differ from op 0")
            total.add(c, n)
        total.check_recall("pipeline", len(results))
        return total


# ---------------------------------------------------------------------------
class IngestProbe(Workload):
    """Each batch is probed against the current store with
    ``probe_near_dups``, then upserted with ``process_batch`` (probe off)."""

    name = "ingest-probe"
    N_STORE = 400
    BATCH = 50
    LAYERS = ("incremental_probe", "ingest")
    N_PARTS = 8

    def prepare(self, attempt: int) -> None:
        from video_duplicate_finder_python_spark import DedupConfig
        from video_duplicate_finder_python_spark.streaming.ingest import (
            StreamingSignatureIngest,
        )

        base_dir, self.store_texts = write_pages(
            self.spark, self.work, self.N_STORE, self.seed, attempt
        )
        self.store_dir = self.work.path / f"store-{attempt}"
        self.cfg = DedupConfig()
        self.ingest = StreamingSignatureIngest(
            self.spark, str(self.store_dir), self.cfg, n_parts=self.N_PARTS
        )
        self.ingest.process_batch(self.spark.read.parquet(str(base_dir)), 0)
        self.rng = np.random.default_rng([self.seed, 17])
        self.vocab = sorted({t for x in list(self.store_texts.values())[:50] for t in x.split(" ")})
        self.batches: list[dict[str, str]] = []
        self.stores_before: list[dict[str, str]] = []
        self.mirror = dict(self.store_texts)

    def make_batch(self, b: int) -> dict[str, str]:
        """30% re-crawls of stored urls (a few tokens changed), 30%
        near-copies under new urls, 10% pages embedding a long verbatim
        span of a stored page, 30% fresh pages.

        Stored pages run from 50 to 2,000 words. Each page of a batch takes
        its source from its own slice of the store sorted by length, and
        fresh pages have about the store's mean length, so every batch holds
        the same number of pages and about the same text volume (with
        sources drawn at random, a batch's volume varied by ~8 %)."""
        rng = self.rng
        urls = sorted(self.mirror, key=lambda u: (len(self.mirror[u]), u))
        out: dict[str, str] = {}
        for k in range(self.BATCH):
            r = k % 10
            src_url = urls[int((k + rng.random()) * len(urls) / self.BATCH)]
            toks = self.mirror[src_url].split(" ")
            if r < 3:
                url = src_url
                text = " ".join(self._mutate(toks, 0.002, 0.02))
            elif r < 6:
                url = f"https://site{k % 10}.example/new/{b}/{k}"
                text = " ".join(self._mutate(toks, 0.001, 0.03))
            elif r < 7:
                url = f"https://site{k % 10}.example/span/{b}/{k}"
                n = min(len(toks), int(rng.integers(90, 200)))
                s = int(rng.integers(0, len(toks) - n + 1))
                text = " ".join(self._fresh(80, 300) + toks[s : s + n] + self._fresh(80, 300))
            else:
                url = f"https://site{k % 10}.example/fresh/{b}/{k}"
                text = " ".join(self._fresh(950, 1100))
            out[url] = text
        return out

    def _mutate(self, toks, lo, hi):
        toks = list(toks)
        n = max(1, int(len(toks) * float(self.rng.uniform(lo, hi))))
        for p in self.rng.choice(len(toks), size=min(n, len(toks)), replace=False):
            toks[int(p)] = self.vocab[int(self.rng.integers(len(self.vocab)))]
        return toks

    def _fresh(self, lo, hi):
        n = int(self.rng.integers(lo, hi))
        return [self.vocab[int(x)] for x in self.rng.integers(0, len(self.vocab), size=n)]

    def op(self, i: int, traced: bool) -> OpResult:
        from pyspark.sql import functions as F
        from video_duplicate_finder_python_spark.functions.text import extract_text_col
        from video_duplicate_finder_python_spark.operators.incremental_probe import (
            probe_near_dups,
        )
        from video_duplicate_finder_python_spark.streaming.ingest import PAGES_SCHEMA

        b = len(self.batches) + 1
        batch = self.make_batch(b)
        pdf = pd.DataFrame(
            {
                "url": list(batch),
                "warc_ts": [_EPOCH + timedelta(days=b, seconds=k) for k in range(len(batch))],
                "html": [wrap_html(u, t) for u, t in batch.items()],
                "text": list(batch.values()),
                "lang": ["en"] * len(batch),
            }
        )
        batch_df = self.spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
        store_before = dir_bytes(self.store_dir)

        t0 = time.monotonic()
        with self.span("incremental_probe") as sp:
            tp = time.monotonic()
            docs = batch_df.select("url", extract_text_col(F.col("html")).alias("text"))
            pairs, overflow, caches = probe_near_dups(self.ingest.store.read(), docs, self.cfg)
            got = pairs.select("new_url", "other_url", "is_dup").toPandas()
            n_overflow = overflow.count()
            for c in caches:
                c.unpersist()
            probe_s = time.monotonic() - tp
        with self.span("ingest"):
            tu = time.monotonic()
            self.ingest.process_batch(batch_df, b)
            upsert_s = time.monotonic() - tu
        wall = time.monotonic() - t0

        self.batches.append(batch)
        self.stores_before.append(dict(self.mirror))
        self.mirror.update(batch)
        dups = got[got["is_dup"]]
        out = OpResult(
            wall_s=wall,
            docs=len(batch),
            output={"pairs": list(zip(dups["new_url"], dups["other_url"])), "overflow": n_overflow},
        )
        if traced:
            stat = self.ingest.batch_stats[-1]
            out.counts = {
                "incremental_probe.self_s": probe_s,
                "incremental_probe.pairs": len(got),
                "incremental_probe.dup_pairs": len(dups),
                "incremental_probe.overflow_docs": n_overflow,
                "incremental_probe.useful_ratio": len(dups) / len(got) if len(got) else 0.0,
                "ingest.upsert_s": upsert_s,
                "ingest.touched_parts": stat["touched_parts"],
                "ingest.delta_rows": stat["delta_rows"] or 0,
                "ingest.bytes_written": dir_bytes(self.store_dir) - store_before,
            }
        return out

    def check(self, results: list[OpResult]) -> Check:
        total = Check()
        for n, (r, batch, store) in enumerate(zip(results, self.batches, self.stores_before)):
            truth = self.truth.dup_pairs(batch, store)
            got = {(a, b) if a < b else (b, a) for a, b in r.output["pairs"]}
            c = Check(hits=len(truth & got), truth=len(truth))
            texts = {**store, **batch}
            for a, b in got:
                c.claimed += 1
                c.confirmed += self.truth.is_dup(texts[a], texts[b])
            c.failures = c.verdict(f"ingest-probe batch {n + 1}")
            if r.output["overflow"]:
                c.failures.append(f"ingest-probe batch {n + 1}: {r.output['overflow']} overflow docs")
            total.add(c, n)
        total.check_recall("ingest-probe", len(results))
        return total


# ---------------------------------------------------------------------------
class MediaSemdedup(Workload):
    """The grouped all-pairs operators the text pipeline never calls:
    ``media_frame_hashes`` + ``media_dup_pairs`` over the page corpus
    (fake codec), then ``semdedup`` over seeded embeddings with planted
    near-duplicate vectors. IVF centroids are trained in set-up."""

    name = "media-semdedup"
    N_DOCS = 1000
    N_VECS = 4000
    LAYERS = ("media_dedup", "semdedup", "ann")
    DIM = 64
    EPS = 0.05
    MEDIA_THRESHOLD = 0.8
    PHASH_CHUNKS = 4   # media_dup_pairs defaults: pigeonhole chunks
    MAX_BUCKET = 256   # and bucket cap

    def prepare(self, attempt: int) -> None:
        from video_duplicate_finder_python_spark.operators.ann import train_ivf_centroids

        self.input_dir, self.texts = write_pages(
            self.spark, self.work, self.N_DOCS, self.seed, attempt
        )
        self.pages = self.spark.read.parquet(str(self.input_dir))
        self.vecs = self._vectors()
        vec_dir = self.work.path / f"vectors-{attempt}"
        pd.DataFrame(
            {"vec_id": np.arange(self.N_VECS, dtype=np.int64), "embedding": list(self.vecs)}
        ).to_parquet(vec_dir)
        self.emb = self.spark.read.parquet(str(vec_dir))
        t0 = time.monotonic()
        self.cents = train_ivf_centroids(
            self.emb, n_centroids=max(16, self.N_VECS // 400), train_size=4096
        )
        self.setup_layers["ann.train_s"] = time.monotonic() - t0

    def _vectors(self) -> np.ndarray:
        """Random float32 vectors (mutually near-orthogonal in 64 dims) with
        planted groups of 2-4 near-duplicates: one direction plus 1% noise,
        at varying magnitudes."""
        rng = np.random.default_rng([self.seed, 29])
        v = rng.standard_normal((self.N_VECS, self.DIM))
        i = 0
        while i < self.N_VECS // 4:
            g = int(rng.integers(2, 5))
            base = v[i]
            for j in range(i + 1, min(i + g, self.N_VECS)):
                x = base + rng.standard_normal(self.DIM) * 0.01
                v[j] = x / np.linalg.norm(x) * rng.uniform(0.5, 3.0)
            i += g
        return v[rng.permutation(self.N_VECS)].astype(np.float32)

    def op(self, i: int, traced: bool) -> OpResult:
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel
        from video_duplicate_finder_python_spark.operators.media_dedup import (
            media_dup_pairs,
            media_frame_hashes,
        )
        from video_duplicate_finder_python_spark.operators.semdedup import semdedup

        t0 = time.monotonic()
        with self.span("media_dedup"):
            tf = time.monotonic()
            with self.span("media_dedup.frame_hash"):
                frames = media_frame_hashes(self.pages).persist(StorageLevel.MEMORY_AND_DISK)
                n_frames = frames.count()
            tp = time.monotonic()
            with self.span("media_dedup.pairs"):
                mpairs, mdropped, caches = media_dup_pairs(frames, persist=True)
                mp = mpairs.select("url_a", "url_b").toPandas()
                m_drop = mdropped.agg(F.sum("dropped_bucket_members")).first()[0] or 0
                for c in caches:
                    c.unpersist()
                frames.unpersist()
            te = time.monotonic()
        with self.span("semdedup"):
            ts = time.monotonic()
            members, sdropped, caches = semdedup(self.emb, self.cents, eps=self.EPS, persist=True)
            mm = members.select("vec_id", "cluster_id").toPandas()
            s_drop = sdropped.agg(F.sum("dropped_bucket_members")).first()[0] or 0
            for c in caches:
                c.unpersist()
            sem_s = time.monotonic() - ts
        wall = time.monotonic() - t0
        out = OpResult(
            wall_s=wall,
            docs=self.N_DOCS,
            output={
                "media_pairs": list(zip(mp["url_a"], mp["url_b"])),
                "members": dict(zip(mm["vec_id"].astype(int), mm["cluster_id"].astype(int))),
            },
        )
        if traced:
            out.counts = {
                "media_dedup.frame_hash_s": tp - tf,
                "media_dedup.pair_s": te - tp,
                "media_dedup.frames": n_frames,
                "media_dedup.pairs": len(mp),
                "media_dedup.dropped_members": int(m_drop),
                "semdedup.self_s": sem_s,
                "semdedup.members": len(mm),
                "semdedup.dropped": int(s_drop),
                "semdedup.vectors_per_s": self.N_VECS / sem_s,
            }
        return out

    # -- truth ---------------------------------------------------------------
    def _media_truth(self) -> tuple[list[str], np.ndarray, np.ndarray]:
        """All-pairs reference score (0.3 frame-count ratio + 0.7 mean
        matching-nibble share of pHash and dHash over positionally aligned
        frames), and whether the pair is inside the operator's recall
        guarantee: both docs sit in one (frame, pHash chunk) bucket that is
        within the bucket cap (pigeonhole: every pair with an aligned
        frame at pHash Hamming distance <= 3 shares such a chunk; members of
        over-cap buckets may be dropped, and are counted by the operator).
        Frame hashes come from the package's NumPy frame kernel run on the
        driver; bucketing, scoring and thresholds are computed here."""
        from video_duplicate_finder_python_spark.functions.phash import (
            frame_hashes_for_docs,
        )

        pdf = pd.read_parquet(self.input_dir, columns=["url", "html"]).sort_values("url")
        urls = pdf["url"].tolist()
        counts, ph, dh = frame_hashes_for_docs([bytes(x) for x in pdf["html"]])
        n, fmax = len(urls), int(counts.max())
        P = np.zeros((n, fmax), dtype=np.uint64)
        D = np.zeros((n, fmax), dtype=np.uint64)
        off = np.concatenate([[0], np.cumsum(counts)])
        for d in range(n):
            P[d, : counts[d]] = ph[off[d] : off[d + 1]].astype(np.uint64)
            D[d, : counts[d]] = dh[off[d] : off[d + 1]].astype(np.uint64)
        cmin = np.minimum.outer(counts, counts)
        sim_sum = np.zeros((n, n))
        guaranteed = np.zeros((n, n), dtype=bool)
        for f in range(fmax):
            both = cmin > f
            xp = P[:, f][:, None] ^ P[:, f][None, :]
            xd = D[:, f][:, None] ^ D[:, f][None, :]
            nib = _popcount(_nibble_fold(xp)) + _popcount(_nibble_fold(xd))
            sim_sum += np.where(both, 1.0 - nib / 32.0, 0.0)
            has = counts > f
            for c in range(self.PHASH_CHUNKS):
                width = 64 // self.PHASH_CHUNKS
                val = ((P[:, f] >> np.uint64(c * width)) & np.uint64((1 << width) - 1)).astype(np.int64)
                val[~has] = -1 - np.arange(n)[~has]  # no frame f: a bucket of its own
                _, inv, size = np.unique(val, return_inverse=True, return_counts=True)
                small = has & (size[inv] <= self.MAX_BUCKET)
                guaranteed |= (val[:, None] == val[None, :]) & small[:, None]
        ratio = cmin / np.maximum.outer(counts, counts)
        score = 0.3 * ratio + 0.7 * sim_sum / cmin
        return urls, score, guaranteed

    def check(self, results: list[OpResult]) -> Check:
        urls, score, guaranteed = self._media_truth()
        pos = {u: i for i, u in enumerate(urls)}
        iu = np.triu_indices(len(urls), 1)
        # float tolerance at the threshold: the engine sums in another order
        strong = (score[iu] >= self.MEDIA_THRESHOLD + 1e-9) & guaranteed[iu]
        media_truth = {(urls[a], urls[b]) for a, b in zip(iu[0][strong], iu[1][strong])}
        sem_truth, sem_comp = self._semantic_truth()
        total = Check()
        for n, r in enumerate(results):
            c = Check()
            got = {(a, b) if a < b else (b, a) for a, b in r.output["media_pairs"]}
            c.hits += len(media_truth & got)
            c.truth += len(media_truth)
            c.claimed += len(got)
            c.confirmed += sum(
                score[pos[a], pos[b]] >= self.MEDIA_THRESHOLD - 1e-9 for a, b in got
            )
            members = r.output["members"]
            c.hits += sum(
                1 for a, b in sem_truth if a in members and members.get(b) == members[a]
            )
            c.truth += len(sem_truth)
            by_cluster: dict[int, list[int]] = {}
            for v, cl in members.items():
                by_cluster.setdefault(cl, []).append(v)
            for vs in by_cluster.values():
                for x in vs[1:]:
                    c.claimed += 1
                    c.confirmed += sem_comp[x] == sem_comp[vs[0]]
            c.failures = c.verdict(f"media-semdedup op {n}")
            total.add(c, n)
        total.check_recall("media-semdedup", len(results))
        return total

    def _semantic_truth(self):
        """Pairs with cosine >= 1 - eps (all pairs, float64 over the
        float32 inputs), and each vector's connected component in the
        graph those pairs form."""
        x = self.vecs.astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        pairs = set()
        parent = list(range(len(x)))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        step = 1024
        for s in range(0, len(x), step):
            sims = x[s : s + step] @ x.T
            rows, cols = np.nonzero(sims >= 1.0 - self.EPS + 1e-9)
            for a, b in zip(rows + s, cols):
                if a < b:
                    pairs.add((int(a), int(b)))
                    parent[find(a)] = find(b)
        return pairs, [find(a) for a in range(len(x))]


def _nibble_fold(d: np.ndarray) -> np.ndarray:
    """One bit per differing nibble of a 64-bit xor."""
    folded = d | (d >> np.uint64(1)) | (d >> np.uint64(2)) | (d >> np.uint64(3))
    return folded & np.uint64(0x1111111111111111)


def _popcount(x: np.ndarray) -> np.ndarray:
    out = np.zeros(x.shape, dtype=np.int64)
    for shift in range(0, 64, 8):
        out += _POP8[((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.int64)]
    return out


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)

# ---------------------------------------------------------------------------
class IngestMedia(Workload):
    """What the traced run of ``ingest-probe`` runs: one ``IngestProbe``
    batch, then one ``MediaSemdedup`` pass, per operation. The media and
    SemDeDup calls get per-layer metrics this way without a workload of
    their own: with one, a run of the end-to-end loop no longer fits the
    time one benchmark run may take (see ``run.DROPPED``)."""

    name = "ingest-probe"
    PARTS = (IngestProbe, MediaSemdedup)
    LAYERS = IngestProbe.LAYERS + MediaSemdedup.LAYERS

    def __init__(self, spark, work, seed: int, recorder, metrics):
        super().__init__(spark, work, seed, recorder, metrics)
        self.parts = [p(spark, work, seed, recorder, metrics) for p in self.PARTS]

    def prepare(self, attempt: int) -> None:
        for p in self.parts:
            p.prepare(attempt)
            self.setup_layers.update(p.setup_layers)

    def op(self, i: int, traced: bool) -> OpResult:
        subs = []
        for p in self.parts:
            p.rec = self.rec
            subs.append(p.op(i, traced))
        return OpResult(
            wall_s=sum(r.wall_s for r in subs),
            docs=sum(r.docs for r in subs),
            output={"parts": subs},
            counts={k: v for r in subs for k, v in r.counts.items()},
        )

    def check(self, results: list[OpResult]) -> Check:
        total = Check()
        for k, p in enumerate(self.parts):
            total.add(p.check([r.output["parts"][k] for r in results]))
        return total


WORKLOADS = {w.name: w for w in (Pipeline, IngestProbe)}
# the class a traced run of a workload uses, where it differs
TRACED = {"ingest-probe": IngestMedia}
