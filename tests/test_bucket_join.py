"""Bucketed candidate generation: pair emission, singleton skip, skew cap."""

from __future__ import annotations

from video_duplicate_finder_python_spark.operators.bucket_join import bucket_pairs


def _pairs(spark, rows, max_bucket_size=256):
    df = spark.createDataFrame(rows, ["key", "url"])
    pairs, dropped, _cached = bucket_pairs(
        df, key_cols=["key"], max_bucket_size=max_bucket_size
    )
    got = sorted((r["url_a"], r["url_b"]) for r in pairs.collect())
    return got, int(dropped.first()[0] or 0)


def test_pairs_within_bucket(spark):
    got, dropped = _pairs(
        spark, [(1, "a"), (1, "b"), (1, "c"), (2, "x"), (2, "y"), (3, "solo")]
    )
    assert got == [("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")]
    assert dropped == 0


def test_singleton_buckets_skipped(spark):
    got, _ = _pairs(spark, [(i, f"u{i}") for i in range(10)])
    assert got == []


def test_orientation_invariant(spark):
    got, _ = _pairs(spark, [(1, "zz"), (1, "aa")])
    assert got == [("aa", "zz")]


def test_skew_cap_drops_and_counts(spark):
    rows = [(1, f"u{i:03d}") for i in range(10)]
    got, dropped = _pairs(spark, rows, max_bucket_size=4)
    # capped at 4 members -> C(4,2)=6 pairs, 6 members dropped (counted)
    assert len(got) == 6
    assert dropped == 6


def _salted(spark, rows, max_bucket_size=256, salt_threshold=4, n_salts=4):
    df = spark.createDataFrame(rows, ["key", "url"])
    pairs, dropped, _cached = bucket_pairs(
        df,
        key_cols=["key"],
        max_bucket_size=max_bucket_size,
        salt_threshold=salt_threshold,
        n_salts=n_salts,
    )
    got = sorted((r["url_a"], r["url_b"]) for r in pairs.collect())
    return got, int(dropped.first()[0] or 0)


def test_salted_matches_unsalted_below_cap(spark):
    """North rule: 'skewed band buckets via salted repartitioning'. With
    the cap large enough to keep every member, the salted shape emits
    EXACTLY the unsalted pair set — salting moves the ranking off the
    single hot-key window partition (per (key, salt) instead), while pair
    formation still joins on the bare key, so members pair across salts."""
    rows = [(1, f"u{i:02d}") for i in range(12)] + [(2, "x"), (2, "y"), (3, "solo")]
    want, want_drops = _pairs(spark, rows)
    got, drops = _salted(spark, rows, salt_threshold=4, n_salts=4)
    assert got == want  # 12-member hot bucket: all C(12,2)=66 pairs + (x,y)
    assert drops == want_drops == 0


def test_salted_hot_bucket_quota_counts_drops(spark):
    """Hot buckets keep a per-salt quota of max_bucket_size // n_salts
    members (kept <= cap in total); everything beyond is a counted drop."""
    rows = [(1, f"u{i:03d}") for i in range(40)]
    got, dropped = _salted(spark, rows, max_bucket_size=8, salt_threshold=10, n_salts=4)
    kept = {u for p in got for u in p}
    assert 2 <= len(kept) <= 8  # n_salts * quota == cap
    assert dropped == 40 - len(kept)
    # determinism: the per-salt url-ordered prefix is a pure function
    got2, dropped2 = _salted(
        spark, rows, max_bucket_size=8, salt_threshold=10, n_salts=4
    )
    assert got2 == got and dropped2 == dropped


def test_salted_cold_path_unchanged(spark):
    """Buckets at or below the threshold take the original single-window
    path: same pairs, same singleton skip, same cap drops."""
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "x"), (2, "y"), (3, "solo")]
    got, dropped = _salted(spark, rows, salt_threshold=100)
    assert got == [("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")]
    assert dropped == 0


def test_salted_plan_windows_per_salt(spark):
    """Plan evidence: the hot branch's row_number window partitions by
    (key, _salt) — the whole-bucket single-task sort is gone from the hot
    path."""
    rows = [(1, f"u{i:02d}") for i in range(12)]
    df = spark.createDataFrame(rows, ["key", "url"])
    pairs, _d, _c = bucket_pairs(
        df, key_cols=["key"], salt_threshold=4, n_salts=4
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_salted_broadcast_fallback_matches(spark):
    """max_collected_hot=0 forces the broadcast-join routing (the >64-hot-
    keys fallback); outputs must match the literal-predicate path."""
    rows = [(1, f"u{i:03d}") for i in range(40)] + [(2, "x"), (2, "y")]
    df = spark.createDataFrame(rows, ["key", "url"])

    def run(**kw):
        pairs, dropped, _ = bucket_pairs(
            df, key_cols=["key"], max_bucket_size=8,
            salt_threshold=10, n_salts=4, **kw,
        )
        return sorted((r["url_a"], r["url_b"]) for r in pairs.collect()), int(
            dropped.first()[0] or 0
        )

    lit_pairs, lit_drops = run()
    bc_pairs, bc_drops = run(max_collected_hot=0)
    assert bc_pairs == lit_pairs and bc_drops == lit_drops


def test_rows_bound_short_circuit_matches_salted(spark):
    """r7: a bucket_rows_bound <= salt_threshold proves no hot bucket can
    exist, so the eager hot-key sizes job is skipped and the unsalted
    plan is taken — outputs must be identical to the full salted path,
    and the emitted plan must carry no salt column."""
    rows = [(k, f"u{i:02d}") for k in (1, 2, 3) for i in range(6)]
    df = spark.createDataFrame(rows, ["key", "url"])

    def run(**kw):
        pairs, dropped, _ = bucket_pairs(
            df, key_cols=["key"], max_bucket_size=4, salt_threshold=100, **kw
        )
        return sorted((r["url_a"], r["url_b"]) for r in pairs.collect()), int(
            dropped.first()[0] or 0
        )

    full_pairs, full_drops = run()
    fast_pairs, fast_drops = run(bucket_rows_bound=len(rows))
    assert fast_pairs == full_pairs and fast_drops == full_drops

    pairs, _d, _c = bucket_pairs(
        df, key_cols=["key"], max_bucket_size=4, salt_threshold=100,
        bucket_rows_bound=len(rows),
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "_salt" not in plan


def test_rows_bound_above_threshold_keeps_salting(spark):
    """A bound ABOVE the threshold must not disable the skew machinery:
    the hot bucket still gets per-salt ranking and counted drops."""
    rows = [(1, f"u{i:02d}") for i in range(12)] + [(2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, ["key", "url"])
    pairs, dropped, _ = bucket_pairs(
        df, key_cols=["key"], max_bucket_size=8, salt_threshold=10,
        n_salts=4, bucket_rows_bound=len(rows),
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    assert int(dropped.first()[0] or 0) > 0


def test_observed_drop_counts_match_dropped_frame(spark):
    """``observe`` counts the over-cap members into an Observation filled
    by the pair consumer's own action — per predicate, equal to the
    ``dropped`` frame's counts. On an empty input AQE prunes the observed
    self-join and no result arrives: ``observed_metrics`` says so (None)
    instead of reporting a count, and the ``dropped`` frame still counts."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from video_duplicate_finder_python_spark.sources.checkpoint import observed_metrics

    rows = [(1, f"u{i:03d}") for i in range(10)] + [(2, f"v{i}") for i in range(5)]
    for data, want in ((rows, {"k1": 6, "k2": 1, "all": 7}), ([], None)):
        df = spark.createDataFrame(data, "key long, url string")
        obs = Observation()
        preds = {"k1": F.col("key") == 1, "k2": F.col("key") == 2, "all": F.lit(True)}
        pairs, dropped, cached = bucket_pairs(
            df, key_cols=["key"], max_bucket_size=4, observe=(obs, preds)
        )
        assert cached == []
        n_pairs = pairs.count()
        assert n_pairs == (12 if data else 0)
        assert observed_metrics(obs) == want
        assert int(dropped.first()[0] or 0) == (want or {}).get("all", 0)
