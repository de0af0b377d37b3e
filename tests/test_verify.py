"""verify_candidates edge semantics: a needs-LCS pair whose profile text
is missing keeps its row, with an unknown (NULL) span, and the span check
reads its texts from the profile frame."""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from video_duplicate_finder_python_spark.config import DedupConfig
from video_duplicate_finder_python_spark.functions.fingerprint import (
    anchored_common_span_len,
)
from video_duplicate_finder_python_spark.operators import verify
from video_duplicate_finder_python_spark.operators.verify import verify_candidates


def _words(seed: int, n: int) -> str:
    rng = random.Random(seed)
    return " ".join(f"w{rng.randrange(10_000)}" for _ in range(n))


def _profiles(spark, rows):
    return spark.createDataFrame(rows, "url string, shingles array<bigint>, simhash bigint")


def _text_profiles(spark, rows):
    return spark.createDataFrame(
        rows, "url string, text string, shingles array<bigint>, simhash bigint"
    )


def test_partial_texts_keep_needs_lcs_rows_with_null_lcs(spark):
    cfg = DedupConfig()
    shared = _words(7, 130)  # ~700 chars, non-periodic → CDC cuts inside
    candidates = spark.createDataFrame(
        [("a", "b", ["suffix"]), ("c", "d", ["suffix"])],
        "url_a string, url_b string, sources array<string>",
    )
    # disjoint shingle sets → jaccard 0 → both pairs take the slow branch
    profiles = _text_profiles(
        spark,
        [
            ("a", shared + " " + _words(1, 40), [1, 2, 3], 0),
            ("b", None, [4, 5, 6], 0),  # "b" deliberately has no text
            ("c", shared + " " + _words(2, 40), [7, 8, 9], 0),
            ("d", shared + " " + _words(3, 40), [10, 11, 12], 0),
        ],
    )
    out = verify_candidates(candidates, profiles, cfg)
    rows = {(r["url_a"], r["url_b"]): r for r in out.collect()}

    assert set(rows) == {("a", "b"), ("c", "d")}, "no candidate row may vanish"
    ab = rows[("a", "b")]
    assert ab["lcs_len"] is None          # missing text → unknown, not 0
    assert ab["is_dup"] is False          # falls back to the jaccard test
    cd = rows[("c", "d")]
    assert cd["lcs_len"] is not None and cd["lcs_len"] >= cfg.substring_min_len
    assert cd["is_dup"] is True


def test_no_texts_frame_skips_substring_confirmation(spark):
    """Profiles without a text column skip the span check: the needs-LCS
    pair keeps its row with a NULL lcs_len, and is_dup is the Jaccard
    test's."""
    cfg = DedupConfig()
    candidates = spark.createDataFrame(
        [("a", "b", ["suffix"]), ("c", "d", ["suffix"])],
        "url_a string, url_b string, sources array<string>",
    )
    profiles = _profiles(
        spark,
        [("a", [1, 2], 0), ("b", [3, 4], 0), ("c", [5, 6], 0), ("d", [5, 6], 0)],
    )
    out = verify_candidates(candidates, profiles, cfg)
    rows = {(r["url_a"], r["url_b"]): r for r in out.collect()}
    assert set(rows) == {("a", "b"), ("c", "d")}
    assert rows[("a", "b")]["lcs_len"] is None and rows[("a", "b")]["is_dup"] is False
    assert rows[("c", "d")]["lcs_len"] is None and rows[("c", "d")]["is_dup"] is True


def test_lcs_pairs_reach_span_udf_in_one_batch(spark, monkeypatch):
    """A handful of pairs that need the LCS check, spread one per partition
    over the scored frame, reach the span UDF as one Arrow batch (one
    Python call, not one per partition), with lcs_len and is_dup equal to
    the kernel run directly on the two texts."""
    cfg = DedupConfig()
    sc = spark.sparkContext
    rows, calls = sc.accumulator(0), sc.accumulator(0)
    make_span_udf = verify._make_span_udf

    def counting_span_udf(window, mask_bits):
        inner = make_span_udf(window, mask_bits).func

        @F.pandas_udf(T.IntegerType())
        def span_udf(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
            rows.add(len(text_a))
            calls.add(1)
            return inner(text_a, text_b)

        return span_udf

    monkeypatch.setattr(verify, "_make_span_udf", counting_span_udf)
    shared = _words(7, 130)
    n_pairs = 6
    texts = {}
    for i in range(n_pairs):
        # even pairs share a ~700-char span, odd pairs share nothing long
        head = shared if i % 2 == 0 else _words(50 + i, 130)
        texts[f"a{i}"] = head + " " + _words(100 + i, 40)
        texts[f"b{i}"] = shared + " " + _words(200 + i, 40)
    candidates = spark.createDataFrame(
        [(f"a{i}", f"b{i}", ["suffix"]) for i in range(n_pairs)],
        "url_a string, url_b string, sources array<string>",
    ).repartition(n_pairs)
    # disjoint shingle sets → jaccard 0 → every pair needs the LCS check
    profiles = _text_profiles(
        spark, [(u, texts[u], [k], 0) for k, u in enumerate(sorted(texts))]
    ).repartition(n_pairs)
    out = verify_candidates(candidates, profiles, cfg)
    got = {(r["url_a"], r["url_b"]): (r["lcs_len"], r["is_dup"]) for r in out.collect()}

    want = {}
    for i in range(n_pairs):
        lcs = anchored_common_span_len(
            texts[f"a{i}"], texts[f"b{i}"], cfg.cdc_window, cfg.cdc_mask_bits
        )
        want[(f"a{i}", f"b{i}")] = (lcs, lcs >= cfg.substring_min_len)
    assert got == want
    assert {dup for _, dup in want.values()} == {True, False}
    assert rows.value == n_pairs
    assert calls.value == 1
