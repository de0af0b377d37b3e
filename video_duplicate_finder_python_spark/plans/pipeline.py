"""The end-to-end dedup pipeline — the Spark analog of the reference's
``VideoScanner.scan_directory`` orchestration (/root/reference/src/core/
scanner.py:30-63): scan → signature → candidates → verify → cluster, as a
DAG of checkpointed table→table stages.

Stage graph (each node an idempotent checkpoint, see sources/checkpoint.py):

    pages ─ extract ─→ docs ─ exact ─→ rep_docs ──→ signatures
                                 │        │               │
                                 │        │   (src, key) rows: minhash bands,
                                 │        │   simhash chunks, CDC fingerprints
                                 │        │               │
                                 │        │      ONE bucket shuffle
                                 │        └── suffix-array (opt-in)
                                 │                        │
                                 │                   candidates
                                 │                        │
                                 └── exact_edges ──→   verify ─→ pairs
                                            │             │
                                            └──── CC ←── edges
                                                   │
                                               clusters(url, cluster_id)

``cfg.candidate_sources`` selects the pair sources (default: minhash +
simhash + CDC-substring). The signature-derived sources share one keyed
row space and one ``bucket_pairs`` shuffle; each pair keeps the tags of
every source it collided in. The per-group generalized suffix-array pass
(operators/suffix_array.py, SURVEY §7 step 8) is the opt-in 4th source:
it reads rep_docs directly (it needs text, not signatures), groups by
``cfg.suffix_group_expr``, and its pairs carry an exact-LCS hint that
verify trusts without re-deriving the span. Its pairs join the same
cross-source groupBy, so a suffix-array-only config runs the same tail
without the bucket shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from hashlib import blake2b

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.signatures import make_shingles_udf
from ..functions.text import extract_text_col
from ..operators.signature_stage import compute_signatures
from ..operators.bucket_join import bucket_pairs
from ..operators.connected_components import connected_components
from ..operators.exact import exact_edges_from, exact_representatives
from ..operators.lsh import explode_bands
from ..operators.shuffle_width import narrowed_width, shuffle_width
from ..operators.simhash_candidates import explode_simhash_chunks
from ..operators.suffix_array import suffix_array_candidates
from ..operators.verify import verify_candidates
from ..sources.checkpoint import CheckpointManager


@dataclass
class PipelineResult:
    clusters: DataFrame   # url, cluster_id (min url of component)
    pairs: DataFrame      # url_a, url_b, jaccard, hamming, lcs_len, sources, is_dup
    exact_edges: DataFrame
    metrics: dict = field(default_factory=dict)

    def pairs_url_level(self, include_within_groups: bool = True) -> DataFrame:
        """The reference's file-level pair view (duplicate_groups rows carry
        the two file paths, /root/reference/src/core/database.py:49-60):
        ``pairs`` relates exact-group *representatives* (exact collapse runs
        before signatures), so expand each rep-level pair to its groups'
        members and emit within-group pairs at Jaccard 1.0 with source tag
        ``exact``. Lazy view, pair-count-sized output — a reporting
        surface, not a pipeline stage (clustering consumes the linear star
        edges); set ``include_within_groups=False`` on hot-key corpora
        where one boilerplate group would emit g·(g-1)/2 rows."""
        from ..operators.expand import expand_pairs_through_reps

        return expand_pairs_through_reps(
            self.pairs, self.exact_edges, include_within_groups
        )

    def summary(self) -> dict:
        """Reference-style scan stats (SURVEY O12: get_files_count /
        get_duplicates_count), derived from the stage counters — no extra
        Spark jobs."""
        return {
            "files_count": self.metrics["docs"]["rows_out"],
            "distinct_contents": self.metrics["rep_docs"]["rows_out"],
            "exact_duplicate_files": self.metrics["exact_edges"]["rows_out"],
            "candidate_pairs": self.metrics["candidates"]["rows_out"],
            "verified_pairs": self.metrics["pairs"]["rows_out"],
            "clustered_files": self.metrics["clusters"]["rows_out"],
            "dropped_bucket_members": self.metrics["candidates"].get("counters", {}),
        }


class PipelineCancelled(RuntimeError):
    """Raised between stages after ``DedupPipeline.cancel()`` — the
    distributed analog of the reference's ``_stop_requested`` checks
    between pipeline steps (/root/reference/src/core/scanner.py:50-51,84).
    Completed stage checkpoints survive; a rerun resumes from them."""


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig | None = None,
        checkpoint_dir: str | None = None,
        on_stage_start=None,
    ):
        """``on_stage_start(stage_name)`` is the progress stream (SURVEY
        O18, the reference's ``progress_callback`` at scanner.py:105-107):
        invoked as each stage begins, before any job is submitted."""
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.ckpt = CheckpointManager(spark, checkpoint_dir)
        self.on_stage_start = on_stage_start
        self._cancelled = False

    # -- fingerprints --------------------------------------------------------
    def _fp(self, stage: str, *parents: str, extra: str = "") -> str:
        payload = "|".join([self.cfg.config_hash(), stage, extra, *parents]).encode()
        return blake2b(payload, digest_size=8).hexdigest()

    @staticmethod
    def input_digest(pages: DataFrame) -> str:
        """Cheap input identity: row count + hash-sum over
        (url, warc_ts, length(html)).

        ``warc_ts`` is the crawl timestamp — the mtime analog of the
        reference's size+mtime staleness check (database.py:93-130) — and
        ``length(html)`` is the size analog: a re-crawl written to the
        same urls, even one reusing the old timestamps, invalidates every
        stage fingerprint unless the rewrite is byte-length-preserving.
        The length term scans the html column (parquet stores byte-array
        lengths inline in the data pages) but stays pure JVM codegen with
        no hashing of the bytes; deployments that can't afford the scan on
        every cached rerun should pass the Iceberg snapshot id as
        ``input_token`` and skip this entirely — that also closes the
        length-preserving-rewrite residual. Byte-level staleness beyond
        this is the incremental path's job (content_hash anti-join,
        SURVEY O3)."""
        row = pages.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(
                    F.xxhash64("url", "warc_ts", F.length(F.col("html")))
                ),
                F.lit(0),
            ).alias("h"),
        ).first()
        return f"{row['n']}:{row['h']}"

    # -- stages ---------------------------------------------------------------
    def _extract(self, pages: DataFrame) -> DataFrame:
        # JVM-side extraction (extract_text_col): byte-identical to the
        # pandas-UDF path (tests/test_extract.py asserts all three
        # implementations agree), but the html bytes never cross the
        # JVM→Arrow→Python boundary — at corpus scale that transfer is
        # pure overhead and the regexes run inside whole-stage codegen.
        # content_hash is computed here ONCE and persisted with the docs
        # checkpoint: both downstream consumers (exact_representatives and
        # exact_edges_from) reuse it instead of each re-hashing the full
        # text column — one avoided full-corpus md5 pass.
        # MUST stay two-step (select text, then withColumn over the column
        # reference): writing md5(extract(html)) inline duplicates the
        # whole extraction chain in one collapsed projection — measured 2×
        # the docs-stage wall. In the two-step shape Catalyst declines to
        # collapse the projections (it would duplicate a non-cheap
        # expression), so the regex chain runs once per row.
        from ..operators.exact import content_hash_col

        return pages.select(
            "url",
            "lang",
            extract_text_col(F.col("html")).alias("text"),
        ).withColumn("content_hash", content_hash_col(F.col("text")))

    def _signatures(self, rep_docs: DataFrame) -> DataFrame:
        # compute-bound stage: spread rows evenly over all cores regardless
        # of upstream AQE coalescing (which sizes partitions for IO, not CPU).
        # shingle arrays are NOT kept: they would roughly double the
        # checkpoint at 10^12-doc scale; verify recomputes them for the
        # (tiny) candidate url set instead.
        # Width is row-count-adaptive (r7): the 2x-cores oversplit is right
        # when every task holds thousands of docs (straggler slack), but at
        # a few docs per task the fixed per-task Arrow/UDF setup dominates
        # — measured 1.31 s at 64 partitions vs 0.66 s at 32 for 4.8k docs.
        # Never below defaultParallelism (all cores busy when data allows),
        # never above the session width, reduced only when the materialized
        # rep_docs row count says tasks would be tiny (~256 docs/task).
        n_part = max(
            self.spark.sparkContext.defaultParallelism,
            shuffle_width(self.spark, self._known_rows("rep_docs"), 256),
        )
        return compute_signatures(
            rep_docs.repartition(n_part),
            self.cfg,
            keep_cols=["url", "content_hash", "group_size"],
        )

    def _known_rows(self, stage: str) -> int | None:
        """Row count of a materialized stage (its metrics, no job); None
        when unknown or empty."""
        m = self.ckpt.metrics.get(stage)
        return m.rows_out if m is not None and m.rows_out > 0 else None

    def _cand_profiles(
        self,
        candidates: DataFrame,
        rep_docs: DataFrame,
        signatures: DataFrame,
        width: int | None = None,
    ) -> DataFrame:
        """(url, shingles, simhash) for every url in a candidate pair —
        deliberately WITHOUT text: verify joins texts separately for the
        small substring-confirmation branch only.

        ``width`` (from the materialized candidates row count): when the
        candidate set is provably small, the url-set dedup and the profile
        joins run at a data-sized width, and the semi-joins against the
        corpus-sized rep_docs/signatures broadcast the (tiny) url set so
        the corpus side is never shuffled for it — the candidates-are-a-
        tiny-fraction-of-the-corpus regime made explicit in the plan.
        ``width=None`` (unknown/large) keeps the shuffled shape."""
        cand_urls = (
            candidates.select(F.col("url_a").alias("url"))
            .union(candidates.select(F.col("url_b").alias("url")))
        )
        shingles_udf = make_shingles_udf(self.cfg.shingle_k)
        if width is not None:
            urls_b = F.broadcast(cand_urls.repartition(width, "url").distinct())
            cand_docs = rep_docs.join(urls_b, "url", "left_semi").select(
                "url", "text"
            )
            sig_small = signatures.select("url", "simhash").join(
                urls_b, "url", "left_semi"
            )
            return (
                cand_docs.withColumn("shingles", shingles_udf(F.col("text")))
                .drop("text")
                .repartition(width, "url")
                .join(sig_small.repartition(width, "url"), "url")
            )
        cand_docs = rep_docs.join(cand_urls.distinct(), "url", "left_semi").select(
            "url", "text"
        )
        return (
            cand_docs.withColumn("shingles", shingles_udf(F.col("text")))
            .drop("text")
            .join(signatures.select("url", "simhash"), "url")
        )

    # candidate-source tag → drop-counter label. "suffix" is the
    # corpus-wide CDC-fingerprint source; "suffix_array" the opt-in
    # per-group generalized suffix array (reads rep_docs, not signatures —
    # it needs the text itself).
    _DROP_LABEL = {
        "minhash": "lsh",
        "simhash": "simhash",
        "suffix": "substring",
        "suffix_array": "suffix_array",
    }

    def _keyed_candidate_rows(self, signatures: DataFrame) -> DataFrame | None:
        """Union of every signature-derived candidate space as
        ``(url, src, key, sig)`` rows — the bucket-shuffle input. Keys
        from different spaces live in one long column, separated by the
        ``src`` tag (which is part of the bucket key downstream):
        minhash → the band hash (band id already seeds it), simhash →
        xxhash64(chunk_id, chunk_value), suffix → the CDC fingerprint.
        ``sig`` carries the 64-bit SimHash for simhash rows (the
        post-join Hamming filter needs it) and is NULL elsewhere. None
        when no signature-derived source is enabled."""
        cfg = self.cfg
        null_sig = F.lit(None).cast("long")
        parts = []
        if "minhash" in cfg.candidate_sources:
            parts.append(
                explode_bands(signatures, cfg).select(
                    "url",
                    F.lit("minhash").alias("src"),
                    F.col("band_hash").alias("key"),
                    null_sig.alias("sig"),
                )
            )
        if "simhash" in cfg.candidate_sources:
            parts.append(
                explode_simhash_chunks(signatures, cfg).select(
                    "url",
                    F.lit("simhash").alias("src"),
                    F.xxhash64("chunk_id", "chunk_value").alias("key"),
                    F.col("simhash").alias("sig"),
                )
            )
        if "suffix" in cfg.candidate_sources:
            parts.append(
                signatures.select(
                    "url",
                    F.lit("suffix").alias("src"),
                    F.explode("fingerprints").alias("key"),
                    null_sig.alias("sig"),
                )
            )
        return reduce(DataFrame.unionByName, parts) if parts else None

    def _candidates(
        self, signatures: DataFrame, rep_docs: DataFrame
    ) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
        """→ (candidates, drops_df, cached_handles).

        One bucket shuffle for all signature-derived sources: their rows
        share one ``(src, key)`` space, so there is 1 ranking window + 1
        pair join, the final groupBy dedups across sources AND
        within-source multiplicity in the same pass, and the eager hot-key
        statistic is computed once over the union. The bucket key is
        ``(src, key)``, so spaces never mix; caps and salting apply per
        bucket. The bucket table is persisted so the skew-drop counters
        come from ONE job over cached partitions, not a re-run of the
        explode + window shuffle."""
        cfg = self.cfg
        # every (src, key) bucket holds at most one row per signature row
        # (band hashes are band-seeded, chunk keys chunk-id-seeded, CDC
        # fingerprints distinct per doc), so the materialized signature
        # stage's row count upper-bounds every bucket — when it cannot
        # reach the salt threshold, bucket_pairs skips the eager hot-key
        # job outright (see bucket_rows_bound there)
        bound = self._known_rows("signatures")
        tagged: list[DataFrame] = []
        drops: list[DataFrame] = []
        caches: list[DataFrame] = []
        rows = self._keyed_candidate_rows(signatures)
        if rows is not None:
            pairs, dropped, caches = bucket_pairs(
                rows,
                key_cols=["src", "key"],
                carry_cols=["sig"],
                keep_keys=["src"],
                dropped_group_by=["src"],
                max_bucket_size=cfg.max_bucket_size,
                persist=True,
                salt_threshold=cfg.skew_salt_threshold,
                n_salts=cfg.skew_n_salts,
                bucket_rows_bound=bound,
            )
            hamming_ok = (F.col("src") != F.lit("simhash")) | (
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                <= cfg.simhash_hamming_max
            )
            tagged.append(
                pairs.where(hamming_ok).select(
                    "url_a",
                    "url_b",
                    F.col("src").alias("source"),
                    F.lit(None).cast("int").alias("lcs_hint"),
                )
            )
            label_map = F.create_map(
                *[F.lit(x) for kv in self._DROP_LABEL.items() for x in kv]
            )
            drops.append(
                dropped.select(
                    label_map[F.col("src")].alias("src"),
                    F.col("dropped_bucket_members").alias("n"),
                )
            )
        if "suffix_array" in cfg.candidate_sources:
            sa_pairs, sa_dropped, sa_caches = suffix_array_candidates(rep_docs, cfg)
            tagged.append(
                sa_pairs.select(
                    "url_a",
                    "url_b",
                    F.lit("suffix_array").alias("source"),
                    F.col("lcs_hint").cast("int").alias("lcs_hint"),
                )
            )
            drops.append(
                sa_dropped.select(
                    F.lit(self._DROP_LABEL["suffix_array"]).alias("src"),
                    F.col("dropped_bucket_members").alias("n"),
                )
            )
            caches.extend(sa_caches)
        union = reduce(DataFrame.unionByName, tagged)
        # the cross-source dedup groupBy: at a known-small input, pin its
        # exchange to the same data-derived width as the bucket shuffle
        # (the partial-aggregation it forgoes only collapsed per-pair
        # band/chunk multiplicity — a handful of rows per pair)
        width = narrowed_width(self.spark, bound, 2000)
        if width is not None:
            union = union.repartition(width, "url_a", "url_b")
        cands = union.groupBy("url_a", "url_b").agg(
            F.collect_set("source").alias("sources"),
            F.max("lcs_hint").alias("lcs_hint"),
        )
        return cands, reduce(DataFrame.unionByName, drops), caches

    # -- cancellation (SURVEY O19) ---------------------------------------------
    JOB_GROUP = "vdf-dedup-pipeline"

    def cancel(self) -> None:
        """Cooperative cancellation — the distributed analog of the
        reference's _stop_requested flag (scanner.py:145-147). Two levers:
        the flag aborts between stages (checked in ``_stage``); the
        job-group cancel kills tasks already running on the cluster.
        Completed stage checkpoints survive, so a restart resumes where it
        stopped (asserted by tests/test_cancellation.py)."""
        self._cancelled = True
        self.spark.sparkContext.cancelJobGroup(self.JOB_GROUP)

    def _stage(self, name, fingerprint, build, lineage=None, counters=None):
        if self._cancelled:
            raise PipelineCancelled(f"cancelled before stage {name!r}")
        if self.on_stage_start is not None:
            self.on_stage_start(name)
        return self.ckpt.stage(name, fingerprint, build, lineage, counters)

    # -- run -------------------------------------------------------------------
    def run(self, pages: DataFrame, input_token: str | None = None) -> PipelineResult:
        cfg = self.cfg
        self.spark.sparkContext.setJobGroup(
            self.JOB_GROUP, "near-duplicate detection pipeline", True
        )
        self._cancelled = False
        if input_token is not None:
            token = input_token
        elif self.ckpt.base_dir is None:
            # ephemeral (localCheckpoint) mode persists nothing, so there is
            # no stale checkpoint the digest could invalidate — skip the
            # full-corpus digest scan (one whole pages pass per run)
            token = "ephemeral"
        else:
            token = self.input_digest(pages)

        # "docs-v2": the docs checkpoint schema gained content_hash; the
        # fingerprint bump invalidates pre-existing checkpoints written
        # without it (the fallback in operators/exact.py would still work,
        # but a cached stage should carry the schema its version promises)
        fp_docs = self._fp("docs-v2", extra=token)
        docs = self._stage("docs", fp_docs, lambda: self._extract(pages))

        fp_exact = self._fp("exact", fp_docs)
        rep_docs = self._stage(
            "rep_docs", fp_exact, lambda: exact_representatives(docs), ["docs"]
        )
        # derived from the materialized rep_docs — the dup-group build side
        # is small, so this does NOT re-run the content_hash groupBy+join
        exact_edges = self._stage(
            "exact_edges",
            fp_exact,
            lambda: exact_edges_from(docs, rep_docs),
            ["docs", "rep_docs"],
        )

        fp_sigs = self._fp("signatures", fp_exact)
        signatures = self._stage(
            "signatures", fp_sigs, lambda: self._signatures(rep_docs), ["rep_docs"]
        )

        fp_cands = self._fp("candidates", fp_sigs, fp_exact)
        cands_lazy, drops_df, caches = self._candidates(signatures, rep_docs)

        def collect_drops() -> dict:
            # one job over the persisted bucket tables (vs three re-runs of
            # the band/window lineages in the round-1 shape). Zero-init:
            # the bucket shuffle's grouped metric emits no row for a source
            # with no drops, and a healthy corpus should still record 0
            # explicitly for every enabled source.
            out = {
                f"{self._DROP_LABEL[s]}_dropped_members": 0
                for s in cfg.candidate_sources
            }
            out.update(
                {
                    f"{r['src']}_dropped_members": int(r["n"] or 0)
                    for r in drops_df.collect()
                }
            )
            return out

        try:
            candidates = self._stage(
                "candidates",
                fp_cands,
                lambda: cands_lazy,
                ["signatures", "rep_docs"],
                counters=collect_drops,
            )
        finally:
            for c in caches:
                c.unpersist()

        fp_pairs = self._fp("pairs", fp_cands, fp_exact)
        verify_cache: list[DataFrame] = []

        def build_pairs() -> DataFrame:
            width = narrowed_width(self.spark, self._known_rows("candidates"), 2000)
            out = verify_candidates(
                candidates,
                self._cand_profiles(candidates, rep_docs, signatures, width),
                cfg,
                texts=rep_docs.select("url", "text"),
            )
            cached = getattr(out, "_vdf_cached", None)
            if cached is not None:
                verify_cache.append(cached)
            return out

        try:
            pairs = self._stage(
                "pairs",
                fp_pairs,
                build_pairs,
                ["candidates", "rep_docs", "signatures"],
            )
        finally:
            for c in verify_cache:
                c.unpersist()

        fp_clusters = self._fp("clusters", fp_pairs, fp_exact)

        def build_clusters() -> DataFrame:
            edges = exact_edges.unionByName(
                pairs.where("is_dup").select(
                    F.col("url_a").alias("u"), F.col("url_b").alias("v")
                )
            )
            return connected_components(edges)

        clusters = self._stage(
            "clusters", fp_clusters, build_clusters, ["pairs", "exact_edges"]
        )

        return PipelineResult(
            clusters=clusters,
            pairs=pairs,
            exact_edges=exact_edges,
            metrics=self.ckpt.metrics_summary(),
        )
