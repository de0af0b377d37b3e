"""Incremental near-dup probe: a NEW batch of pages vs the EXISTING
signature store, without re-running the corpus pipeline.

The reference re-scans the whole library and compares everything cached
when new files land (scanner.py:88-124 + comparator full pass). The batch
pipeline here is O(corpus) per run by design; the streaming ingest keeps
the signature STORE current in O(delta) (streaming/ingest.py) — but
neither answers the operational question "which of today's N new pages
duplicate something we already have?" in O(delta) work. This operator
does:

- signatures for the new batch only (the Arrow kernel, O(delta));
- **ONE store pass for all candidate sources plus one text fetch** (r7:
  the per-source band and fingerprint probes shared a merged ``(src,
  key)`` space — the same construction as the batch pipeline's merged
  candidates, plans/pipeline.py:_keyed_candidate_rows — so the store's
  signature columns are scanned and exploded once, not once per source),
  every pass shuffle-free on the store side: the batch's keys broadcast
  against the store's exploded view, and the (tiny) candidate output is
  materialized so downstream consumers reuse it; the text fetch is a
  broadcast left-semi join pulling text/simhash for just the matched url
  set. The 10^12-row store is never shuffled, never windowed, never
  collected; a deployment that keeps a materialized key index partitioned
  by hash turns the scan into partition-pruned probes (same seam as
  ``build_ann_index``);
- the fingerprint source closes the recall class the band probe alone
  misses: a batch doc sharing a >= ``substring_min_len`` verbatim span
  with a store doc at LOW overall Jaccard (the pipeline's "suffix"
  source, functions/fingerprint.py) — verified through the same
  anchored-span check `verify_candidates` runs for the batch pipeline;
- skew-safe boilerplate guard with NO window: candidate degree per new
  doc (store matches AND within-batch matches, across all sources)
  comes from a map-side-combinable groupBy, and a new doc whose degree
  exceeds ``max_matches_per_doc`` is diverted to an ``overflow`` output
  — these are boilerplate/empty-page probes where "which exact
  duplicates" is not an answerable question at bounded cost; the caller
  sees the url + match count instead of a silent quadratic explosion
  (within-batch pairs are dropped if EITHER endpoint overflows);
- exact verification reuses ``verify_candidates`` on ONE profile frame
  ``(url, text, simhash, shingles)`` for the batch plus the matched store
  docs (tiny by construction), shingled in one pass and materialized:
  both sides of the scoring join and the span check's texts read it, so
  no url is shingled twice and the store is not re-read for texts;
  within-batch (new×new) duplicates ride the same verify pass.

Nothing is persisted: every reused intermediate is cut with a lazy
``localCheckpoint`` (plan-size note below), whose blocks the
ContextCleaner frees once the frame is unreachable. ``unpersist()`` on
such a frame is a no-op, so there are no handles for the caller to own.

Plan-size note (r7): the probe's dataflow is a chain of diamonds — the
candidate tables feed the degree guard, the pair union, the text fetch
AND (via profiles) both sides of the verify join, and verify branches
its scored frame four more ways — so composing it all lazily embeds the
candidate subtree in the final logical plan a combinatorial number of
times. At sf0.1 the composed plan printed 26k lines and Catalyst
analysis/planning dominated the wall (construction alone 5.2 s, the
single action 8.5 s while every candidate computation measured < 0.4 s
in isolation). The fix is the guide's plan-truncation rule: the SMALL
intermediates (batch signatures, the merged candidate table, the verify
profile frame, verify's scored frame) are cut with a lazy
``localCheckpoint`` whose first action materializes them, after which
every downstream appearance is a LogicalRDD leaf.

Python-task note: every Python UDF task pays a fixed start-up cost
(~0.17 CPU-s measured on pyspark 4.1 / Python 3.11, README "Scale
design") that dwarfs the probe's kernels at batch sizes, so the Python
stages are sized by the data, not by the upstream split count: the
profile frame is shingled once behind an AQE ``REBALANCE`` and the span
check gets its own (``verify_candidates``). At a 50-page batch the probe
runs 4 Python tasks — 2 signature + 1 shingle + 1 span — where the
un-materialized shape ran 14 (the shingle UDF once per scoring-join side
and per upstream split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.signatures import make_shingles_udf
from .signature_stage import compute_signatures
from .verify import verify_candidates


def probe_near_dups(
    store: DataFrame,
    new_docs: DataFrame,
    cfg: DedupConfig,
    max_matches_per_doc: int = 1024,
    substring: bool = True,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """``store(url, minhash, simhash, text[, fingerprints], ...)`` (a
    SignatureStore snapshot / signatures checkpoint) × ``new_docs(url,
    text)`` → ``(pairs, overflow, cached)``.

    ``pairs(new_url, other_url, is_new_other, jaccard, hamming, lcs_len,
    is_dup)`` — every verified candidate where ``new_url`` is from the
    batch; ``other_url`` is a store url (``is_new_other`` false) or
    another batch url (true); ``lcs_len`` is the exact verbatim-span
    length for fingerprint-source pairs that needed the substring check
    (NULL otherwise). ``overflow(new_url, n_matches)`` — batch docs whose
    candidate degree exceeded ``max_matches_per_doc`` (boilerplate guard;
    no pairs are emitted for them). ``cached`` is always ``[]``: the
    probe persists nothing (module docstring), and the third element is
    kept so existing ``pairs, overflow, cached`` callers keep working.

    ``substring=True`` requires a ``fingerprints`` column on the store
    (every SignatureStore / compute_signatures output has one) and adds
    the CDC-fingerprint candidate source; ``False`` skips it AND prunes
    the batch-side CDC kernel structurally.
    """
    if substring and "fingerprints" not in store.columns:
        raise ValueError(
            "substring=True needs a 'fingerprints' column on the store "
            "(compute_signatures output); pass substring=False to probe "
            "with MinHash bands only"
        )
    # a url present in BOTH batch and store (streaming re-crawl: the probe
    # runs before the upsert) would make "other_url is a store url"
    # ambiguous — the same pair would appear against the store's OLD text
    # and the batch's NEW text with different scores/sources, fanning the
    # verify join into conflicting duplicate rows. The batch is
    # authoritative for its own urls: store rows they shadow are excluded
    # from candidates AND profiles (broadcast anti — the store side stays
    # shuffle-free).
    store = store.join(
        F.broadcast(new_docs.select("url").distinct()), "url", "left_anti"
    )
    sigs_new = compute_signatures(new_docs, cfg, keep_cols=["url", "text"])
    if not substring:
        # drop the CDC fingerprints STRUCTURALLY: nothing reads them, and
        # the materialization below would otherwise run the per-byte CDC
        # UDF pass Catalyst's column pruning normally removes
        sigs_new = sigs_new.drop("fingerprints")
    # the batch signature kernel feeds every candidate source (store
    # probe + within-batch self-join) AND the verify profiles — a lazy
    # localCheckpoint caches it AND truncates its subtree out of every
    # downstream plan (see module docstring, plan-size note)
    sigs_new = sigs_new.localCheckpoint(eager=False)

    # --- merged candidate space: ONE (src, key) row set per side, same
    # construction as the batch pipeline's merged candidates — the store's
    # signature columns are scanned/exploded once for ALL sources --------
    r = cfg.rows_per_band
    key_items = [
        F.struct(
            F.lit("minhash").alias("src"),
            F.xxhash64(F.slice("minhash", b * r + 1, r), F.lit(b)).alias("key"),
        )
        for b in range(cfg.bands)
    ]
    key_arr = F.array(*key_items)
    if substring:
        # cdc_fingerprints emits a distinct set per doc, so the exploded
        # (url, fp) rows are unique by construction — no dedup needed
        key_arr = F.concat(
            key_arr,
            F.transform(
                F.col("fingerprints"),
                lambda fp: F.struct(
                    F.lit("suffix").alias("src"), fp.alias("key")
                ),
            ),
        )

    def keyed(df: DataFrame, url_out: str) -> DataFrame:
        return df.select(
            F.col("url").alias(url_out), F.explode(key_arr).alias("_k")
        ).select(url_out, F.col("_k.src").alias("src"), F.col("_k.key").alias("key"))

    keys_new = keyed(sigs_new, "new_url")
    keys_store = keyed(store, "url")
    old_rows = (
        keys_store.join(F.broadcast(keys_new), ["src", "key"])
        .where(F.col("url") != F.col("new_url"))
        .select(
            "new_url",
            F.col("url").alias("other_url"),
            "src",
            F.lit(False).alias("is_new_other"),
        )
    )
    k2 = keys_new.withColumnRenamed("new_url", "other_url")
    new_rows = (
        keys_new.join(k2, ["src", "key"])
        .where(F.col("new_url") < F.col("other_url"))
        .select("new_url", "other_url", "src", F.lit(True).alias("is_new_other"))
    )
    # ONE grouped candidate table for both sides: a (new, store) pair and
    # a (new, new) pair can never collide on (new_url, other_url) — batch
    # urls are excluded from the store above — so grouping the tagged
    # union is identical to grouping per side, and it halves both the
    # groupBy jobs and the plan-truncation compile cost (each lazy
    # localCheckpoint compiles a full physical plan; measured 0.46 s per
    # compile on this host's warm JVM, dominating the probe's build span).
    cand_all = (
        old_rows.unionByName(new_rows)
        .groupBy("new_url", "other_url", "is_new_other")
        .agg(F.collect_set("src").alias("sources"))
    )
    # the candidate table is re-read by the degree guard, the pair union
    # AND the profile fetch — truncate it too (it is tiny: bounded by
    # batch size × max_matches_per_doc)
    cand_all = cand_all.localCheckpoint(eager=False)
    cand_old = cand_all.where(~F.col("is_new_other")).drop("is_new_other")
    cand_new = cand_all.where(F.col("is_new_other")).drop("is_new_other")

    # boilerplate guard: candidate DEGREE per batch doc across both
    # sides (a within-batch pair counts toward both endpoints) via a
    # map-side-combinable groupBy — no window anywhere
    degree = (
        cand_all.select("new_url")
        .unionAll(cand_new.select(F.col("other_url").alias("new_url")))
        .groupBy("new_url")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    overflow = degree.where(F.col("n_matches") > max_matches_per_doc)
    ov_a = F.broadcast(overflow.select("new_url"))
    ov_b = F.broadcast(overflow.select(F.col("new_url").alias("other_url")))
    cand_old = cand_old.join(ov_a, "new_url", "left_anti")
    cand_new = (
        cand_new.join(ov_a, "new_url", "left_anti")
        .join(ov_b, "other_url", "left_anti")
    )

    cand = cand_old.withColumn("is_new_other", F.lit(False)).unionByName(
        cand_new.withColumn("is_new_other", F.lit(True))
    )

    # the verify profile frame (url, text, simhash, shingles) for exactly
    # the urls verify will touch: the batch, plus the matched store rows
    # (broadcast left-semi — tiny after the cap), shingled in ONE pass.
    # Both sides of the scoring join and the span check's texts read it,
    # so it is cut with a lazy localCheckpoint; the REBALANCE before the
    # UDF lets AQE size the shingle stage to the bytes the batch and its
    # matches actually hold (one Python task at a 50-page batch) instead
    # of one task per upstream split. The exchange sits above the semi-join,
    # so the store scan keeps its own splits and is never shuffled.
    matched_old = store.join(
        F.broadcast(
            cand.where(~F.col("is_new_other"))
            .select(F.col("other_url").alias("url"))
            .distinct()
        ),
        "url",
        "left_semi",
    ).select("url", "text", "simhash")
    profiles = (
        sigs_new.select("url", "text", "simhash")
        .unionByName(matched_old)
        .hint("rebalance")
        .withColumn("shingles", make_shingles_udf(cfg.shingle_k)(F.col("text")))
        .localCheckpoint(eager=False)
    )

    oriented = cand.select(
        "new_url",
        "other_url",
        "is_new_other",
        "sources",
        F.least("new_url", "other_url").alias("url_a"),
        F.greatest("new_url", "other_url").alias("url_b"),
    )
    candidates = oriented.select("url_a", "url_b", "sources").dropDuplicates(
        ["url_a", "url_b"]
    )
    verified = verify_candidates(
        candidates,
        profiles.select("url", "shingles", "simhash"),
        cfg,
        texts=profiles.select("url", "text") if substring else None,
    )
    pairs = oriented.join(verified.drop("sources"), ["url_a", "url_b"]).select(
        "new_url", "other_url", "is_new_other", "jaccard", "hamming", "lcs_len", "is_dup"
    )
    return pairs, overflow, []
