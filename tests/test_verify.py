"""verify_candidates edge semantics: partial texts must not drop rows
(round-2 advice: the slow path inner-joined texts, so a needs_lcs pair
whose url was missing from the texts frame vanished from the result)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from video_duplicate_finder_python_spark.config import DedupConfig
from video_duplicate_finder_python_spark.operators.verify import verify_candidates


def _words(seed: int, n: int) -> str:
    rng = random.Random(seed)
    return " ".join(f"w{rng.randrange(10_000)}" for _ in range(n))


def _profiles(spark, rows):
    return spark.createDataFrame(rows, "url string, shingles array<bigint>, simhash bigint")


def test_partial_texts_keep_needs_lcs_rows_with_null_lcs(spark):
    cfg = DedupConfig()
    shared = _words(7, 130)  # ~700 chars, non-periodic → CDC cuts inside
    texts = spark.createDataFrame(
        [
            ("a", shared + " " + _words(1, 40)),
            # "b" deliberately absent from texts
            ("c", shared + " " + _words(2, 40)),
            ("d", shared + " " + _words(3, 40)),
        ],
        ["url", "text"],
    )
    candidates = spark.createDataFrame(
        [("a", "b", ["suffix"]), ("c", "d", ["suffix"])],
        "url_a string, url_b string, sources array<string>",
    )
    # disjoint shingle sets → jaccard 0 → both pairs take the slow branch
    profiles = _profiles(
        spark,
        [
            ("a", [1, 2, 3], 0),
            ("b", [4, 5, 6], 0),
            ("c", [7, 8, 9], 0),
            ("d", [10, 11, 12], 0),
        ],
    )
    out = verify_candidates(candidates, profiles, cfg, texts=texts)
    rows = {(r["url_a"], r["url_b"]): r for r in out.collect()}

    assert set(rows) == {("a", "b"), ("c", "d")}, "no candidate row may vanish"
    ab = rows[("a", "b")]
    assert ab["lcs_len"] is None          # missing text → unknown, not 0
    assert ab["is_dup"] is False          # falls back to the jaccard test
    cd = rows[("c", "d")]
    assert cd["lcs_len"] is not None and cd["lcs_len"] >= cfg.substring_min_len
    assert cd["is_dup"] is True


def test_no_texts_frame_skips_substring_confirmation(spark):
    cfg = DedupConfig()
    candidates = spark.createDataFrame(
        [("a", "b", ["suffix"])], "url_a string, url_b string, sources array<string>"
    )
    profiles = _profiles(spark, [("a", [1, 2], 0), ("b", [3, 4], 0)])
    out = verify_candidates(candidates, profiles, cfg, texts=None)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["lcs_len"] is None and rows[0]["is_dup"] is False
