"""The one shuffle-width rule (operators/shuffle_width.py), pinned per
call site: each row gives a site's rows_per_part and an input row count
with the width that site uses, so a change to the rule shows up as the
site whose plan it would move."""

from __future__ import annotations

from types import SimpleNamespace

from video_duplicate_finder_python_spark.operators.shuffle_width import (
    narrowed_width,
    shuffle_width,
)


def _session(conf_value, default_parallelism: int):
    """The two session reads the rule makes, without a JVM."""
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: conf_value),
        sparkContext=SimpleNamespace(defaultParallelism=default_parallelism),
    )


# (site, session conf, defaultParallelism, n_rows, rows_per_part,
#  shuffle_width, narrowed_width). Narrowing sites (pipeline, bucket_pairs)
# repartition to narrowed_width and leave the plan alone on None; CC uses
# shuffle_width; the signature stage uses max(defaultParallelism,
# shuffle_width).
TABLE = [
    ("pipeline groupBy/verify", "8", 4, 5_000, 2_000, 3, 3),
    ("pipeline groupBy/verify", "8", 4, 116_000, 2_000, 8, None),
    ("bucket_pairs bound", "8", 4, 9_000, 2_000, 5, 5),
    ("bucket_pairs bound", "8", 4, 14_000, 2_000, 8, None),
    ("bucket_pairs salted", "8", 4, 120_000, 50_000, 3, 3),
    ("bucket_pairs salted", "8", 4, 0, 50_000, 1, 1),
    ("CC star rounds", "64", 8, 72_000, 250_000, 1, 1),
    ("CC star rounds", "64", 8, 1_000_000, 250_000, 5, 5),
    ("CC star rounds", "64", 8, 100_000_000, 250_000, 64, None),
    ("signature stage", "8", 4, 1_500, 256, 6, 6),
    ("signature stage, size unknown", "8", 4, None, 256, 8, None),
    # ADVICE r4 #3: a non-numeric or unset session width falls back to
    # defaultParallelism instead of raising
    ("conf 'auto'", "auto", 8, 100_000_000, 250_000, 8, None),
    ("conf 'auto'", "auto", 8, 72_000, 250_000, 1, 1),
    ("conf 'auto', size unknown", "auto", 8, None, 256, 8, None),
    ("conf unset", None, 8, 72_000, 250_000, 1, 1),
    ("conf unset", None, 8, 100_000_000, 250_000, 8, None),
]


def test_shuffle_width_table():
    for site, conf, par, n_rows, per_part, width, narrowed in TABLE:
        spark = _session(conf, par)
        row = (site, conf, n_rows, per_part)
        assert shuffle_width(spark, n_rows, per_part) == width, row
        assert narrowed_width(spark, n_rows, per_part) == narrowed, row
