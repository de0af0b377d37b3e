"""Exact verification of candidate pairs (SURVEY O7/O8).

The reference scores candidates with a weighted string-Hamming similarity
and keeps pairs >= threshold (/root/reference/src/core/hasher.py:79-124,
comparator.py:79-80). Here the score the north rule fixes is *exact*
word-shingle Jaccard — computed fully JVM-side from the pre-computed
shingle-hash arrays (``array_intersect`` / ``array_union``), plus the exact
64-bit SimHash Hamming distance as ``bit_count(a ^ b)``.

Shape notes (both matter at 100 TB):
- at scale ``cand_profiles`` carries ONLY ``(url, shingles, simhash)`` —
  document text never enters the big candidates⋈profiles join. Texts are
  joined in a second pass restricted to the (tiny) subset of
  substring-source candidates that FAILED the Jaccard test; only those pay
  the ~8 KB/doc text transfer and the anchored-common-span pandas UDF
  (functions/fingerprint.py:anchored_common_span_len).
- a caller whose candidate docs are known to be small (the pipeline
  when their estimated profile bytes fit the session's broadcast limit,
  and the incremental probe always) passes profiles WITH a ``text``
  column, broadcast: the scoring join then carries each side's text,
  keeps it only on the rows the span check needs, and the check reads
  it from there. That drops the failed-url set (a distinct shuffle and
  its broadcast), the texts scan and the two text broadcasts: Spark
  jobs that at a few hundred pairs cost ~0.1 CPU-s of driver and JVM
  work each and carry no data decision (README "Scale design").
- either way the span rows pass an AQE ``REBALANCE`` before the UDF, so
  the span stage's task count follows the bytes of text it checks, not
  the scored frame's partition count: a handful of pairs is one Python
  task (each task has a fixed start-up cost, README "Scale design"), a
  large slow set keeps its parallelism.
- both scoring-join sides project the same profile frame, so a
  broadcast profile frame is ONE broadcast exchange, reused by the
  second side: one job builds it, and the profile frame's lazy cut is
  first touched once (two broadcast jobs racing for it would run its
  shingle UDF stage twice). The two sides only plan identically when
  Spark's self-join renaming keeps the frame's constraints: a cut whose
  recorded ``isnotnull(url)`` names a non-null attribute the cut's
  output made nullable (a union of a non-null url column with a
  nullable one) loses that constraint on the renamed side, which then
  gets an inferred null filter the first side lacks, and the two
  exchanges no longer match. A caller that unions such columns leads
  with the nullable one (operators/incremental_probe.py).
- extra candidate columns (any beyond ``url_a``, ``url_b``,
  ``sources`` and ``lcs_hint``) pass through to the output, so a caller
  that needs per-pair context (the probe's orientation) reads it from
  the verified rows instead of re-joining them.
- the scored frame is cut with a lazy ``localCheckpoint`` before
  branching, so the fast/slow split costs one execution of the scoring
  join, and what is kept is the scalar-only frame (~tens of bytes/pair,
  plus the slow rows' texts when carried), not shingle arrays. Its blocks
  are freed by the ContextCleaner once the frame is unreachable; there is
  no handle to unpersist.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig
from ..functions.fingerprint import anchored_common_span_len


def _make_span_udf(window: int, mask_bits: int):
    @F.pandas_udf(T.IntegerType())
    def span_udf(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
        # a missing text (caller passed a partial texts frame) yields a
        # NULL span, not 0 — downstream is_dup then falls back to the
        # Jaccard test alone instead of silently asserting "no shared span"
        return pd.Series(
            [
                None
                if a is None or b is None
                else anchored_common_span_len(a, b, window, mask_bits)
                for a, b in zip(text_a, text_b)
            ],
            dtype="Int32",
        )

    return span_udf


def verify_candidates(
    candidates: DataFrame,
    cand_profiles: DataFrame,
    cfg: DedupConfig,
    texts: DataFrame | None = None,
) -> DataFrame:
    """Score every candidate pair; flag duplicates.

    ``candidates(url_a, url_b, sources: array<string>[, lcs_hint: int])``
    — ``lcs_hint``, when present and non-null, is an exact LCS length a
    candidate source already proved (the suffix-array pass emits only
    pairs whose shared span it has walked), so those pairs skip the
    anchored-span recomputation entirely: the hint IS their ``lcs_len``.
    ``cand_profiles(url, shingles, simhash[, text])`` — profiles for (at
    least) every url appearing in a candidate pair; shingles are
    recomputed for just the candidate url set upstream (candidates are a
    tiny fraction of the corpus, so that is far cheaper than persisting
    full shingle arrays through the signature checkpoint). With a
    ``text`` column the anchored-span check reads its texts from the
    profiles and ``texts`` is ignored (module docstring).
    ``texts(url, text)`` — consulted ONLY for substring-source pairs below
    the Jaccard threshold with no hint (the anchored-span check); pass
    None (with text-less profiles) to skip the substring confirmation
    entirely (lcs_len stays null).
    → ``pairs(url_a, url_b, jaccard, hamming, lcs_len, sources, *extra,
    is_dup)``, where ``extra`` are the candidates' other columns, passed
    through unchanged.
    """
    hint_col = (
        F.col("lcs_hint").cast("int")
        if "lcs_hint" in candidates.columns
        else F.lit(None).cast("int")
    )
    extra = [
        c
        for c in candidates.columns
        if c not in ("url_a", "url_b", "sources", "lcs_hint")
    ]
    candidates = candidates.select(
        "url_a", "url_b", "sources", hint_col.alias("_lcs_hint"), *extra
    )
    # profile texts ride the scoring join; without them a separate
    # ``texts`` frame is joined to the slow rows only, further below
    carried = "text" in cand_profiles.columns

    def side(s: str) -> DataFrame:
        return cand_profiles.select(
            F.col("url").alias(f"url_{s}"),
            F.col("shingles").alias(f"_sh_{s}"),
            F.col("simhash").alias(f"_sim_{s}"),
            *([F.col("text").alias(f"_tx_{s}")] if carried else []),
        )

    needs_lcs = (
        (F.col("jaccard") < cfg.jaccard_threshold)
        & (
            F.array_contains("sources", "suffix")
            | F.array_contains("sources", "suffix_array")
        )
        & F.col("_lcs_hint").isNull()
    )
    scored = (
        candidates.join(side("a"), "url_a")
        .join(side("b"), "url_b")
        .withColumn("_union", F.size(F.array_union("_sh_a", "_sh_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("_union") == 0, F.lit(0.0)).otherwise(
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.col("_union").cast("double")
            ),
        )
        .withColumn(
            "hamming", F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b")))
        )
        .select(
            "url_a",
            "url_b",
            "sources",
            "_lcs_hint",
            "jaccard",
            "hamming",
            *extra,
            # the carried texts are kept only where the span check reads
            # them, so the cut below stays scalar-sized for the rest
            *(
                [F.when(needs_lcs, F.col(c)).alias(c) for c in ("_tx_a", "_tx_b")]
                if carried
                else []
            ),
        )
        # scalars only (plus the slow rows' texts when carried); branched
        # below into the fast and slow sets (and, without carried texts,
        # the failed-url projections). A lazy localCheckpoint caches
        # it like the old persist did AND truncates the subtree out of the
        # downstream plan — the scoring join's lineage otherwise
        # re-appears once per branch in the final logical plan, and for
        # callers that compose verify into a larger lazy dataflow (the
        # incremental probe) that repetition is a measured
        # Catalyst-planning bottleneck (operators/incremental_probe.py
        # docstring, plan-size note).
        .localCheckpoint(eager=False)
    )

    fast = scored.where(~needs_lcs).withColumn("lcs_len", F.col("_lcs_hint"))
    needed = scored.where(needs_lcs)
    if not carried and texts is None:
        slow = needed.withColumn("lcs_len", F.lit(None).cast("int"))
    else:
        if not carried:
            # ONE streamed scan of the corpus texts, semi-filtered by the
            # (tiny, broadcast) failed-substring url set — broadcast
            # left-semi is a supported build-right plan, unlike
            # broadcasting the preserved side of an outer join, so the
            # corpus text is never shuffled for a handful of pairs. The
            # result is at most 2·|needed| rows, so the two per-side joins
            # below are broadcast-trivially small.
            need_urls = (
                needed.select(F.col("url_a").alias("url"))
                .union(needed.select(F.col("url_b").alias("url")))
                .distinct()
            )
            t_small = texts.join(F.broadcast(need_urls), "url", "left_semi")
            tx_a = t_small.select(
                F.col("url").alias("url_a"), F.col("text").alias("_tx_a")
            )
            tx_b = t_small.select(
                F.col("url").alias("url_b"), F.col("text").alias("_tx_b")
            )
            # LEFT joins preserve every needs_lcs pair: a pair whose url is
            # absent from `texts` keeps its row with a NULL text → NULL
            # lcs_len, instead of vanishing from the result entirely
            needed = needed.join(F.broadcast(tx_a), "url_a", "left").join(
                F.broadcast(tx_b), "url_b", "left"
            )
        span_udf = _make_span_udf(cfg.cdc_window, cfg.cdc_mask_bits)
        # the REBALANCE sizes the span stage by text bytes (module docstring)
        slow = needed.hint("rebalance").withColumn(
            "lcs_len", span_udf(F.col("_tx_a"), F.col("_tx_b"))
        )
    cols = ["url_a", "url_b", "jaccard", "hamming", "lcs_len", "sources", *extra]
    return fast.select(*cols).unionByName(slow.select(*cols)).withColumn(
        "is_dup",
        (F.col("jaccard") >= cfg.jaccard_threshold)
        | (F.coalesce(F.col("lcs_len"), F.lit(0)) >= cfg.substring_min_len),
    )
