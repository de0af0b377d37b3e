"""Bucketed candidate generation — the shared groupBy-driven pair emitter.

Spark-first generalization of the reference's hash-bucket candidate stage
(``_create_hash_buckets`` + per-bucket pairwise loop,
/root/reference/src/core/comparator.py:38-82): members that share a bucket
key become candidate pairs; singleton buckets are skipped (the reference's
``len(bucket_files) > 1`` check at comparator.py:31-33 becomes a window
count filter); and — unlike the reference, which pins one thread per hot
bucket — oversized buckets are *capped* with a deterministic row_number so
one adversarial key can't go quadratic (SURVEY.md §4 skew handling). Exact
duplicates are collapsed upstream (operators/exact.py), so an over-cap
bucket here is hash skew, not recall; drops are surfaced as a metric, never
silent.

Skew model at 10^12-doc scale (the north rule's "salted repartitioning"):
the cap bounds pair *emission*, but ranking a bucket with a row_number
window still sorts the whole bucket in ONE task — a boilerplate band-hash
shared by 10^8 pages is a straggler/OOM regardless of the cap. With
``salt_threshold`` set, bucket sizes are computed first by a
``groupBy().count()`` whose map-side partial aggregation is skew-immune
(hot-key rows combine locally; only per-key counts shuffle); keys above
the threshold are broadcast back (pigeonhole: ≤ rows/threshold hot keys,
~16 B each) and their members are ranked per ``(key, salt)`` with
``salt = pmod(xxhash64(id), n_salts)`` — the window partition shrinks from
the full bucket to ~bucket/n_salts, and each salt keeps a quota of
``max_bucket_size // n_salts`` members, so the kept set stays ≤ the cap.
Pair formation joins on the bare key (not key+salt), so kept members pair
across salts exactly as in the unsalted shape; only the *selection* of
which members survive the cap differs (per-salt url-ordered prefix instead
of the global url-ordered prefix — both deterministic). Cold buckets take
the original single-window path, whose partitions are now bounded by
``salt_threshold`` by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .shuffle_width import narrowed_width


def capped_buckets(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "url",
    carry_cols: list[str] | None = None,
    max_bucket_size: int = 256,
    persist: bool = False,
    salt_threshold: int | None = None,
    n_salts: int = 16,
    max_collected_hot: int = 64,
    dropped_group_by: list[str] | None = None,
    bucket_rows_bound: int | None = None,
    observe: tuple[Observation, dict[str, Column]] | None = None,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Rank every bucket sharing ``key_cols`` and keep at most
    ``max_bucket_size`` members of each (the ``id_col``-ordered prefix,
    per salt for hot buckets).

    Returns ``(kept, dropped, cached)`` where ``kept`` holds the
    surviving members of every non-singleton bucket (``key_cols``,
    ``id_col`` and ``carry_cols``, plus the internal ``_rn``/``_cap``
    rank columns), ``dropped`` is a 1-row DataFrame with the count of
    bucket members beyond the cap (a skew metric, SURVEY.md §4), and
    ``cached`` is the list of persisted handles the caller must
    ``unpersist()`` after running both actions (empty when
    ``persist=False``). ``bucket_pairs`` self-joins ``kept``; a per-group
    kernel (SemDeDup's per-cell gemm) consumes it whole, so its work per
    bucket is bounded by the cap squared.

    ``dropped_group_by``: group the dropped-members metric by these key
    columns instead of the default single global count (callers must
    treat absent groups as 0 — an empty groupBy emits no rows, unlike the
    global aggregate).

    ``salt_threshold``: buckets larger than this are ranked per
    ``(key, salt)`` instead of per key (see module docstring) so no single
    task ever sorts a whole mega-bucket; ``None`` keeps the one-shuffle
    unsalted shape (right for inputs whose bucket sizes are known-bounded).
    Choose it ≥ ``max_bucket_size`` and small enough that one task
    comfortably sorts ``salt_threshold`` rows (the cold-path partition
    bound); 64k is a sane default at web scale.

    Hot-key discovery is one EAGER map-side-combined aggregation per call
    (an AQE-style runtime statistic, not a data scan into the driver: the
    result is bounded by rows/threshold and truncated at
    ``max_collected_hot + 1``). When the hot set is empty — the normal
    case on a healthy corpus — the emitted plan is byte-identical to the
    unsalted shape, so salting costs one counting pass over the banded
    input (which, with ``persist=True``, also materializes the cache the
    ranking window then reads — see below) and nothing downstream. A
    non-empty hot set ≤
    ``max_collected_hot`` routes by literal key predicates (pushed to the
    scan); a larger one falls back to broadcast-join routing. The earlier
    always-broadcast shape re-scanned the banded input for the sizes
    aggregate AND both join branches — measured +19 s on the 300k-doc
    candidates stage at local[4] even with zero hot keys.

    ``observe=(observation, {name: predicate})``: count the dropped
    members into ``observation`` instead — one metric per name, counting
    the over-cap rows that match its predicate (``F.lit(True)`` for all) —
    so the counts ride the action that consumes ``kept`` and the
    ``dropped`` frame need not run (the pipeline's candidates stage).
    Read the result with ``sources.checkpoint.observed_metrics`` after
    that action; it is None when AQE pruned the observed node (zero
    ranked rows), and ``dropped`` then still counts. The observed node
    sits on ``kept`` (above the cache when ``persist``), so each self-join
    side carries an identical copy and Spark reports one.

    ``persist=True`` caches the ranked bucket table (MEMORY_AND_DISK) so
    that running the ``kept`` consumer and the ``dropped`` action doesn't
    execute the explode+window shuffle twice — Spark does not reuse shuffle
    output across separately-triggered jobs. With ``salt_threshold`` also
    set, the *input* ``df`` is persisted first, so the eager hot-key sizes
    pass and the ranking window both read the banded rows from cache
    instead of each re-running the upstream band-explode lineage (the
    sizes pass doubles as the cache-materializing job — net extra cost of
    salting drops from one full recompute to ~zero). The caller owns every
    handle in the returned ``cached`` list and must ``unpersist()`` them
    after both actions ran. The caches are banded tables (≈ rows × bands ×
    ~24 B) and spill to disk, so they stay viable at cluster scale; the
    alternative is accepting a 2× recompute.
    """
    carry_cols = carry_cols or []
    keep_cols = [*key_cols, id_col, *carry_cols]
    w = Window.partitionBy(*key_cols).orderBy(id_col)
    caches: list[DataFrame] = []

    # ``bucket_rows_bound``: a caller-asserted upper bound on any single
    # bucket's size (e.g. the signature-stage row count when every doc
    # contributes at most one row per key). When it proves no bucket can
    # reach ``salt_threshold``, the eager hot-key sizes pass is a job that
    # can only ever return an empty hot set — skip it and take the
    # unsalted plan directly. Scale-adaptive by construction: a corpus big
    # enough to HAVE a 65k-row bucket has bound > threshold and keeps the
    # full salted machinery (measured: the sizes job + input-cache
    # materialization was a 2.5-2.7 s pre-stage serial step of the sf0.1
    # candidates phase that decided nothing).
    if (
        salt_threshold is not None
        and bucket_rows_bound is not None
        and 0 < bucket_rows_bound <= salt_threshold
    ):
        salt_threshold = None

    # Scale-adaptive shuffle width (operators/shuffle_width.py): a keyed
    # input whose size bound says the session width would make near-empty
    # partitions gets ONE explicit repartition on the bucket keys sized to
    # the data — the ranking window, the pair self-join and the singleton
    # filter all reuse that partitioning, so no further exchange is
    # inserted, and every downstream map-task count shrinks with it.
    # Inputs big enough to fill the session width are untouched.
    if bucket_rows_bound is not None and bucket_rows_bound > 0:
        width = narrowed_width(df.sparkSession, bucket_rows_bound, 2000)
        if width is not None:
            df = df.repartition(width, *key_cols)

    def rank_unsalted(part: DataFrame, cap: int) -> DataFrame:
        return (
            part.withColumn("_rn", F.row_number().over(w))
            .withColumn("_bsz", F.count(F.lit(1)).over(Window.partitionBy(*key_cols)))
            .filter(F.col("_bsz") >= 2)
            .select(*keep_cols, "_rn", F.lit(cap).alias("_cap"))
        )

    if salt_threshold is None:
        ranked = rank_unsalted(df, max_bucket_size)
    else:
        if persist:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            caches.append(df)
        # ONE eager statistics job (the r6 single-pass shape, kept): the
        # sizes aggregate — whose first job also materializes the cache —
        # yields the hot-key set AND the total row count in the same
        # action (sum of per-key counts == rows; collect_list of the
        # over-threshold keys is pigeonhole-bounded by rows/threshold and
        # truncated at max_collected_hot+1). The total then derives the
        # width for the ranking window / pair self-join: a small input
        # gets one narrow keyed repartition both reuse (see
        # bucket_rows_bound above); a full-width input keeps the exact
        # prior plan. An earlier r7 shape ran a SEPARATE df.count()
        # before the sizes pass — one whole extra pass over the banded
        # cache (~10 s at 18.7M rows / local[4]) that the 300k HEAD
        # pairing exposed as the candidates stage's scaling drag.
        sizes = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_bsz"))
        stats = sizes.select(
            F.sum("_bsz").alias("_n"),
            F.slice(
                F.collect_list(
                    F.when(
                        F.col("_bsz") > salt_threshold, F.struct(*key_cols)
                    )
                ),
                1,
                max_collected_hot + 1,
            ).alias("_hot"),
        ).first()
        n_rows = int(stats["_n"] or 0)
        hot_rows = list(stats["_hot"] or [])
        width = narrowed_width(df.sparkSession, n_rows, 50_000)
        if width is not None:
            df = df.repartition(width, *key_cols)
        hot_keys = sizes.where(F.col("_bsz") > salt_threshold).select(*key_cols)
        if not hot_rows:
            ranked = rank_unsalted(df, max_bucket_size)
        else:
            if len(hot_rows) <= max_collected_hot:
                # literal-predicate routing: pushed to the scan, no joins.
                # eqNullSafe so NULL-keyed rows (never hot: a NULL key can't
                # exceed the threshold under groupBy, which buckets NULLs
                # together) route to the COLD branch instead of vanishing
                # from both (`col == lit` is NULL for NULL inputs, and both
                # where(is_hot) and where(~is_hot) drop NULL predicates) —
                # consistent with the unsalted window path and the
                # broadcast left_anti fallback, which both keep NULL keys.
                def _match(row):
                    cond = F.lit(True)
                    for k in key_cols:
                        cond = cond & F.col(k).eqNullSafe(F.lit(row[k]))
                    return cond

                is_hot = _match(hot_rows[0])
                for row in hot_rows[1:]:
                    is_hot = is_hot | _match(row)
                cold, hot = df.where(~is_hot), df.where(is_hot)
            else:  # hot set too large to inline — broadcast-join routing
                cold = df.join(F.broadcast(hot_keys), key_cols, "left_anti")
                hot = df.join(F.broadcast(hot_keys), key_cols, "left_semi")
            # hot buckets have > salt_threshold >= 2 members by
            # construction — no singleton filter needed; quota keeps the
            # per-salt url-ordered prefix, kept <= n_salts*quota <= cap
            quota = max(1, max_bucket_size // n_salts)
            ws = Window.partitionBy(*key_cols, "_salt").orderBy(id_col)
            hot_ranked = (
                hot.withColumn("_salt", F.pmod(F.xxhash64(id_col), F.lit(n_salts)))
                .withColumn("_rn", F.row_number().over(ws))
                .select(*keep_cols, "_rn", F.lit(quota).alias("_cap"))
            )
            ranked = rank_unsalted(cold, max_bucket_size).unionByName(hot_ranked)

    if persist:
        ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(ranked)
    over = F.col("_rn") > F.col("_cap")
    if observe is not None:
        obs, preds = observe
        ranked = ranked.observe(
            obs, *[F.count_if(over & p).alias(n) for n, p in preds.items()]
        )
    kept = ranked.filter(F.col("_rn") <= F.col("_cap"))
    over_cap = ranked.filter(over)
    if dropped_group_by:
        dropped = over_cap.groupBy(*dropped_group_by).agg(
            F.count(F.lit(1)).alias("dropped_bucket_members")
        )
    else:
        dropped = over_cap.select(
            F.count(F.lit(1)).alias("dropped_bucket_members")
        )
    return kept, dropped, caches


def bucket_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "url",
    carry_cols: list[str] | None = None,
    keep_keys: list[str] | None = None,
    **cap_kwargs,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Emit candidate pairs from rows sharing ``key_cols``.

    Returns ``(pairs, dropped, cached)``: ``pairs`` has columns ``url_a,
    url_b`` (``url_a < url_b``) plus ``<c>_a / <c>_b`` for every carry
    column, over the members ``capped_buckets`` keeps (``cap_kwargs`` are
    its cap, salt, persist, width and observe options); ``dropped`` and
    ``cached`` are its outputs unchanged.

    ``keep_keys``: key columns to RETAIN in the pairs output (e.g. a
    source tag when several candidate spaces share one call — the
    merged-candidates path); they are equal on both sides of a pair by
    construction, so they come back un-suffixed.
    """
    carry_cols = carry_cols or []
    kept, dropped, caches = capped_buckets(
        df, key_cols, id_col=id_col, carry_cols=carry_cols, **cap_kwargs
    )
    left = kept.select(
        *key_cols,
        F.col(id_col).alias("url_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry_cols],
    )
    right = kept.select(
        *key_cols,
        F.col(id_col).alias("url_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry_cols],
    )
    drop_keys = [k for k in key_cols if k not in (keep_keys or [])]
    pairs = (
        left.join(right, key_cols)
        .where(F.col("url_a") < F.col("url_b"))
        .drop(*drop_keys)
    )
    return pairs, dropped, caches
