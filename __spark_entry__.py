"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship dedup run on /root/testdata/sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data-pipeline extras); each callable takes (spark, sf_dir).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every SQL-expressible
query (same column names/aliases as the Spark side). Engine-native ops
(LSH/MinHash internals, CC clustering, CDC fingerprints, float cosine)
have no oracle entry → driver records the weaker rows-only check.

Cross-engine exactness conventions used below:
- money/metric sums go through DECIMAL (exact) then CAST to DOUBLE;
- dot products are integer-quantized (round(x*1e6) as BIGINT) so the
  arithmetic is exact in both engines;
- dates are emitted as 'yyyy-MM-dd' strings;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline
from video_duplicate_finder_python_spark.sources.pages import (
    docs_to_pages,
    documents_as_pages,
)

STOPWORDS = ("the", "a", "of", "and", "to")


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Input-skew guard (optimization guide §2.5, 'one huge unsplittable
    file'): the sf testdata ships each table as ONE parquet file under the
    128 MB split size, so every scan is a single task and a per-doc kernel
    (signature UDFs, regex scrubbing, shingle transforms) runs on one core
    no matter how many the session has. When the scan yields fewer
    partitions than the session's parallelism, round-robin repartition to
    spread the rows; on a real multi-file corpus (scan partitions >= cores)
    this is a no-op, so no extra corpus-wide shuffle is introduced at
    scale. Row order is irrelevant to every caller (per-row projections +
    integer-count aggregations, each query ends in orderBy), so results
    are unchanged."""
    from video_duplicate_finder_python_spark.sources.pages import spread_input

    return spread_input(df)


def _presort(df: DataFrame) -> DataFrame:
    """Shuffle boundary under a final orderBy (guide §7.2 read-the-plan +
    §1 measure): a global sort's range partitioner SAMPLES its child by
    executing it, so an expensive kernel (pandas UDF, applyInPandas
    group walk) sitting directly under ``.orderBy(...)`` runs TWICE —
    measured +65% on the signature query and +100% on the suffix-array
    query at sf0.1. A round-robin repartition to the session parallelism
    materializes the kernel's output once as shuffle files; the range
    sampling then reads those instead of re-running the kernel. Strictly
    cheaper whenever the kernel costs more than one exchange of its
    OUTPUT rows (scalars here — the text/arrays are gone by this point).
    Result set and final ordering are unchanged."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _with_shingle_strings(df: DataFrame, text_col: str, out: str = "s") -> DataFrame:
    """Distinct 5-word shingles as strings (mirrors the SQL oracle exactly).
    Tokens are materialized into a column first — passing the split()
    expression into the transform() lambda makes Catalyst re-tokenize per
    shingle index."""
    df = df.withColumn("_tk", F.split(F.col(text_col), " "))
    sliding = F.transform(
        F.sequence(F.lit(1), F.size("_tk") - F.lit(4)),
        lambda i: F.array_join(F.slice(F.col("_tk"), i, 5), " "),
    )
    return df.withColumn(
        out,
        F.when(F.size("_tk") >= 5, F.array_distinct(sliding)).otherwise(
            F.array(F.array_join(F.col("_tk"), " "))
        ),
    ).drop("_tk")


def _quantize(col):
    return F.transform(col, lambda x: F.round(x.cast("double") * 1e6).cast("bigint"))


# Derived test corpora: the sf documents table plants *neither* exact-dup
# nor substring-only duplicate classes (no two rows share a text; no pair
# shares a >=500-char span below the Jaccard threshold), so those pipeline
# paths would only ever see empty driver rows. These variants construct
# the missing classes in-query, deterministically, from doc_id alone —
# the DuckDB oracles rebuild the identical corpus from the same SQL-
# expressible recipe.
_SPAN_SQL = (
    "array_join(transform(sequence(1, 150), "
    "j -> concat('w', cast(doc_id as string), 'x', cast(j as string))), ' ')"
)


def _tail_sql(prefix: str) -> str:
    return (
        "array_join(transform(sequence(1, 100), "
        f"j -> concat('{prefix}', cast(doc_id as string), 'h', cast(j as string))), ' ')"
    )


def _derived_docs(spark: SparkSession, sf_dir: str, variant: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    if variant == "base":
        return docs
    if variant == "exact":
        # every 5th doc gets a byte-identical twin under a fresh doc_id —
        # exercises exact collapse → star edges → CC with rows > 0
        copies = docs.where(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1_000_000)
        )
        return docs.unionByName(copies)
    if variant == "substring":
        # every 50th doc_id seeds a twin pair (X, Y) sharing ONLY a long
        # synthetic token span (~900 chars >= substring_min_len + CDC
        # margin) followed by disjoint tails: Jaccard ≈ 0.42 < 0.8, so the
        # pair is a duplicate solely via the CDC-fingerprint → anchored-
        # span path. Token namespaces ('w{i}x{j}', 'ua…', 'vb…') are
        # disjoint from the natural-word base corpus, so the twins
        # interact with nothing else.
        sel = docs.where(F.col("doc_id") % 50 == 0)
        tx = sel.selectExpr(
            "doc_id + 2000000 AS doc_id",
            f"concat({_SPAN_SQL}, ' ', {_tail_sql('ua')}) AS text",
            "'en' AS lang",
        )
        ty = sel.selectExpr(
            "doc_id + 3000000 AS doc_id",
            f"concat({_SPAN_SQL}, ' ', {_tail_sql('vb')}) AS text",
            "'en' AS lang",
        )
        return docs.unionByName(tx).unionByName(ty)
    raise ValueError(f"unknown corpus variant {variant!r}")


_PIPE_CACHE: dict = {}


def _run_pipeline(
    spark: SparkSession, sf_dir: str, variant: str = "base", cfg: DedupConfig | None = None
):
    """Full DedupPipeline over a (possibly derived) corpus, memoized per
    Spark application so the several driver queries sharing one pipeline
    run (clusters / lsh pairs / expanded pairs) pay for it once."""
    cfg = cfg or DedupConfig()
    key = (spark.sparkContext.applicationId, sf_dir, variant, cfg.config_hash())
    if key not in _PIPE_CACHE:
        pages = docs_to_pages(_derived_docs(spark, sf_dir, variant))
        _PIPE_CACHE[key] = DedupPipeline(spark, cfg).run(pages)
    return _PIPE_CACHE[key]


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full dedup pipeline on sf0.001; one row per document with
    its cluster assignment (cluster_id = the doc's own url when unique)."""
    sf_dir = "/root/testdata/sf0.001"
    pages = documents_as_pages(spark, sf_dir)
    res = DedupPipeline(spark, DedupConfig()).run(pages)
    return (
        pages.select("url")
        .join(res.clusters, "url", "left")
        .select("url", F.coalesce("cluster_id", "url").alias("cluster_id"))
        .orderBy("url")
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------
def q_doc_content_hash(spark, sf_dir):
    # SURVEY O2-analog content identity (md5, like the reference's digest)
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_hash")
    ).orderBy("doc_id")


def q_hash_bucket_sizes(spark, sf_dir):
    # SURVEY O5: the reference's md5-prefix bucketing as a groupBy
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.substring(F.md5("text"), 1, 2).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


def q_token_counts(spark, sf_dir):
    # text-analysis extra: whitespace token counting
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    ).orderBy("doc_id")


def q_lang_stats(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


def q_stopword_ratio(spark, sf_dir):
    # text-analysis extra: quality scoring (stopword density)
    toks = F.split(F.col("text"), " ")
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    # no _spread: this per-row JVM projection gains nothing from a
    # round-robin exchange (sf0.1, local[4] on a 4-core host, 8 interleaved
    # pairs: median 0.495 s without it, 0.542 s with it; same rows)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        (stop / F.size(toks).cast("double")).alias("stopword_ratio"),
    ).orderBy("doc_id")


def q_top_docs_by_chars(spark, sf_dir):
    # SURVEY O9: order-by + top-k
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(20)
    )


def q_jaccard_pairs_brute(spark, sf_dir):
    # exact verification operator (SURVEY O7), brute-force twin of the SQL
    # oracle: all-pairs 5-shingle Jaccard, top 20
    d = _with_shingle_strings(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "text"
    ).select("doc_id", "s")
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jac"),
        )
        .orderBy(F.desc("jac"), "doc_a", "doc_b")
        .limit(20)
    )


def q_near_dup_pairs_lsh(spark, sf_dir):
    # the engine's own LSH + exact-verify path (SURVEY O5/O6/O7/O8); the
    # oracle is the brute-force SQL — matches because the seeded LSH family
    # is deterministic and collides on every >=0.8 pair in this data.
    # res.pairs relates exact-group *representatives* (exact.py collapses
    # identical texts first), so expand back to url-level pairs — members
    # inherit their rep's jaccard, within-group pairs are 1.0 — before
    # comparing against the all-urls brute-force oracle (ADVICE r1 #3).
    from video_duplicate_finder_python_spark.operators.expand import (
        expand_pairs_through_reps,
    )

    res = _run_pipeline(spark, sf_dir)
    url_pairs = expand_pairs_through_reps(res.pairs, res.exact_edges)
    return (
        url_pairs.where(F.col("jaccard") >= DedupConfig().jaccard_threshold)
        .select(
            F.regexp_extract("url_a", r"(\d+)$", 1).cast("bigint").alias("doc_a"),
            F.regexp_extract("url_b", r"(\d+)$", 1).cast("bigint").alias("doc_b"),
            F.col("jaccard").alias("jac"),
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "jac",
        )
        .orderBy("doc_a", "doc_b")
    )


def q_pricing_summary(spark, sf_dir):
    # SURVEY O12/O13: scan + filter + group aggregate (TPC-H Q1 shape)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1995-09-02")
    dec = lambda c, p, s: F.col(c).cast(f"decimal({p},{s})")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity", 18, 2)).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice", 18, 2)).cast("double").alias("sum_base_price"),
            F.sum(dec("l_discount", 8, 4)).cast("double").alias("sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customer_spend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("spend"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"), "spend")
        .orderBy(F.desc("spend"), "custkey")
        .limit(10)
    )


def q_order_priority_count(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def q_events_daily(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("day")
    )


def q_latest_event_per_user(spark, sf_dir):
    # window function (SURVEY §2 gap list: row_number per key)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


def q_user_sessions(spark, sf_dir):
    # gap-based sessionization — the window-function depth beyond
    # row_number (lag + conditional cumulative sum), a standard
    # training-data-pipeline shape (grouping user activity into sessions
    # at a 30-minute inactivity gap)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; NTZ→LTZ under the session's UTC tz, then epoch
    # seconds — numerically identical to DuckDB's epoch(ts)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    ev = _t(spark, sf_dir, "events").withColumn(
        "session_no", F.sum(is_new).over(w)
    )
    return (
        ev.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .orderBy("user_id", "session_no")
    )


def q_events_rollup(spark, sf_dir):
    # grouping-sets aggregate (rollup over day × event_type) — subtotal and
    # grand-total rows coalesced to 'ALL' so the canonical compare is
    # null-free
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return (
        ev.rollup("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
        )
        .orderBy("day", "event_type")
    )


def q_customers_without_orders(spark, sf_dir):
    # anti-join (SURVEY O3's shape)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_anti")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .orderBy("custkey")
    )


def q_knn_dot_q0(spark, sf_dir):
    # similarity-search extra: brute-force top-k by exact quantized dot product
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(_quantize(F.col("embedding")).alias("qe"))
    dot = F.aggregate(
        F.zip_with(_quantize(F.col("embedding")), F.col("qe"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", dot.alias("dot_q0"))
        .orderBy(F.desc("dot_q0"), "vec_id")
        .limit(10)
    )


def q_knn_dot_q0_udf(spark, sf_dir):
    # the vectorized-Arrow twin of knn_dot_q0 (round-2 verdict #6): one
    # int64 BLAS matmul per Arrow batch instead of the interpreted
    # aggregate/zip_with fold — same quantization, same oracle SQL; the
    # HOF version stays as the pure-JVM oracle twin
    from video_duplicate_finder_python_spark.operators.ann import quantized_dot_topk

    return quantized_dot_topk(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10, out_col="dot_q0"
    )


def q_embedding_dot_pairs(spark, sf_dir):
    # embedding-space near-dup pairs (training-pipeline brief): all-pairs
    # similarity self-join on exact integer-quantized dot product — the
    # correctness baseline; the scale path for the same semantics is
    # build_ann_index + ann_probe (operators/ann.py), which prunes the
    # cross join to LSH-bucket collisions
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qe")
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", dot.alias("dot"))
        .where(F.col("dot") >= 450000000000)
        .orderBy("vec_a", "vec_b")
    )


def q_doc_previews(spark, sf_dir):
    # SURVEY O17 analog: per-item preview artifact (snippet column)
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 200).alias("preview")
    ).orderBy("doc_id")


def q_lang_id_guess(spark, sf_dir):
    # text-analysis extra: stopword-vote language ID
    from video_duplicate_finder_python_spark.functions.textstats import lang_guess

    return _t(spark, sf_dir, "documents").select(
        "doc_id", lang_guess(F.col("text")).alias("lang_guess")
    ).orderBy("doc_id")


def q_regex_token_counts(spark, sf_dir):
    from video_duplicate_finder_python_spark.functions.textstats import (
        regex_token_count,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id", regex_token_count(F.col("text")).alias("n_words")
    ).orderBy("doc_id")


def q_quality_scores(spark, sf_dir):
    from video_duplicate_finder_python_spark.functions.textstats import quality_score

    return _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


def q_repetition_scores(spark, sf_dir):
    # Gopher-style within-doc repetition filter (duplicate-2-gram fraction,
    # Rae et al. 2021 family) — pure codegen zip_with/slice, hash-matched
    # on the double fraction (single exactly-rounded IEEE divide).
    from video_duplicate_finder_python_spark.functions.textstats import (
        repetition_score,
    )

    return (
        _spread(_t(spark, sf_dir, "documents"))
        .select("doc_id", repetition_score(F.col("text")).alias("rep_frac"))
        .orderBy("doc_id")
    )


def q_tfidf_top_terms(spark, sf_dir):
    # per-doc top-3 salient terms by tf·idf with the LINEAR idf = N/df
    # (every arithmetic op exactly rounded, so ranks are bit-identical
    # across engines — see functions/tfidf.py for why not log)
    from video_duplicate_finder_python_spark.functions.tfidf import tfidf_top_terms

    return tfidf_top_terms(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), k=3
    ).orderBy("doc_id", "term_rank")


def q_weighted_jaccard_pairs(spark, sf_dir):
    # multiset (frequency-weighted) n-gram Jaccard — the repetition-aware
    # twin of jaccard_pairs_brute's set scoring (operator:
    # operators/weighted_jaccard.py). The candidate pairs here are a
    # deterministic id band (doc_a < doc_b <= doc_a+5) so the oracle is
    # exact and the query stays O(n·band); in the pipeline the pairs input
    # would come from the LSH/suffix candidate stages.
    from video_duplicate_finder_python_spark.operators.weighted_jaccard import (
        weighted_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the id band as explode+semi-join instead of a θ-join: the range
    # predicate planned as a BroadcastNestedLoopJoin — n² comparisons
    # (2.5B at sf1.0, 9.1 s for the pair table alone). Enumerating the ≤5
    # successor ids per doc and semi-joining against the existing id set
    # yields the IDENTICAL pair set (doc_a < doc_b <= doc_a+5, both
    # present; doc_ids unique) in O(n) rows.
    b_ids = d.select(F.col("doc_id").alias("doc_b"))
    pairs = d.select(
        F.col("doc_id").alias("doc_a"),
        F.explode(F.sequence(F.col("doc_id") + 1, F.col("doc_id") + 5)).alias(
            "doc_b"
        ),
    ).join(b_ids, "doc_b", "left_semi")
    return weighted_jaccard_pairs(d, pairs).orderBy("doc_a", "doc_b")


def q_line_dedup_cleaned(spark, sf_dir):
    # C4/RefinedWeb-style exact line dedup BELOW document granularity
    # (operators/line_dedup.py): every 10-token chunk whose exact string
    # recurs across documents is dropped from all of them; survivors
    # re-join in position order. Hash-matched on the cleaned text itself.
    from video_duplicate_finder_python_spark.operators.line_dedup import (
        drop_cross_doc_duplicate_lines,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return drop_cross_doc_duplicate_lines(d).orderBy("doc_id")


def q_contaminated_docs(spark, sf_dir):
    # benchmark decontamination (operators/decontaminate.py): docs sharing
    # any exact 5-shingle with the "eval set" (every 11th doc here), with
    # the distinct-shared-shingle count. The eval side is broadcast; the
    # corpus side is one explode pass.
    from video_duplicate_finder_python_spark.operators.decontaminate import (
        contamination_overlap,
    )

    # the lazy checkpoint is a materialization barrier: without it the
    # shingle-string HOF chain collapses into the downstream explode and
    # re-evaluates catastrophically (measured 13.1 s for the bare corpus
    # gram explode at sf1.0 vs 0.11 s from materialized arrays; a
    # repartition barrier still paid 17 s shuffling the fat array rows).
    # It also computes `d` once for BOTH filter branches below.
    d = _with_shingle_strings(
        _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text"), "text"
    ).select("doc_id", "s").localCheckpoint(eager=False)
    eval_side = d.where(F.col("doc_id") % 11 == 0)
    corpus_side = d.where(F.col("doc_id") % 11 != 0)
    # grams_distinct: _with_shingle_strings applies array_distinct, so the
    # (doc, gram) rows are unique and the plain count equals the distinct
    # count (operator docstring; verified row-identical)
    return contamination_overlap(
        corpus_side, eval_side, grams_distinct=True
    ).orderBy("doc_id")


def _messy_urls(spark, sf_dir):
    """Deterministic messy surface-form URLs derived from doc_id (same
    recipe as the DuckDB oracle's murls CTE): mixed-case scheme/host,
    default ports, tracking params, trailing slashes, fragments. Canonical
    collapse groups doc_ids by (doc_id%7, doc_id%10, doc_id%2) — ~7 docs
    per canonical url at sf0.01."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    url = F.concat(
        F.when(i % 2 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(i % 5 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.lit("site"), s(i % 7), F.lit(".Example.COM"),
        F.when(i % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/page/"), s(i % 10),
        F.when(i % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), s(i % 2)))
        .otherwise(F.concat(F.lit("?id="), s(i % 2))),
        F.when(i % 2 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    return d.select("doc_id", "n_chars", url.alias("url"))


def q_url_dedup(spark, sf_dir):
    # canonical-URL dedup (functions/urlnorm.py): the cheapest web dedup
    # class — same page crawled under tracking params / case / port /
    # slash / fragment variants — collapsed by a pure-JVM rewrite chain
    # before any content hashing. Hash-matched against a DuckDB oracle
    # running the RE2 twin of the same rewrite steps.
    from video_duplicate_finder_python_spark.functions.urlnorm import (
        canonicalize_url,
    )

    return (
        _messy_urls(spark, sf_dir)
        .select("doc_id", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("canonical_url")
    )


def q_domain_stats(spark, sf_dir):
    # per-host corpus stats over the canonicalized URLs — the groupBy any
    # crawl-curation pass starts from (host-level quotas/filtering).
    from video_duplicate_finder_python_spark.functions.urlnorm import (
        canonicalize_url,
    )

    canon = canonicalize_url(F.col("url"))
    host = F.regexp_extract(canon, r"^[a-z][a-z0-9+.\-]*://([^/:?#]+)", 1)
    return (
        _messy_urls(spark, sf_dir)
        .select(host.alias("host"), "n_chars")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("host")
    )


def q_pii_scrubbed(spark, sf_dir):
    # PII redaction (functions/pii.py): emails/phones/IPv4 planted
    # deterministically per doc_id, scrubbed to stable tokens with
    # per-class counts on the original text. RE2-compatible patterns →
    # the DuckDB oracle runs the very same regex text.
    from video_duplicate_finder_python_spark.functions.pii import (
        pii_counts,
        scrub_pii,
    )

    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    ptext = F.concat(
        F.col("text"),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" Contact user"), s(i % 40), F.lit("@mail.example.org now.")),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(
                F.lit(" Call 555-"),
                F.lpad(s(i % 1000), 3, "0"),
                F.lit("-0199 today."),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit(" Server at 10.0."), s(i % 200), F.lit("."), s(i % 250),
                F.lit(" up."),
            ),
        ).otherwise(F.lit("")),
    )
    d = _spread(_t(spark, sf_dir, "documents")).select("doc_id", ptext.alias("ptext"))
    counts = pii_counts(F.col("ptext"))
    return d.select(
        "doc_id",
        counts["n_emails"].cast("bigint").alias("n_emails"),
        counts["n_phones"].cast("bigint").alias("n_phones"),
        counts["n_ips"].cast("bigint").alias("n_ips"),
        scrub_pii(F.col("ptext")).alias("scrubbed"),
    ).orderBy("doc_id")


def q_dedup_clusters(spark, sf_dir):
    # THE flagship: full DedupPipeline cluster assignment (SURVEY O10 over
    # O1..O8 outputs), oracled by a DuckDB recursive-CTE transitive closure
    # of the brute-force jaccard>=0.8 graph over url strings. The closure
    # is the exact expected output at this SF because the corpus plants no
    # substring-only (LCS) duplicates there — verified: zero is_dup pairs
    # with jaccard<0.8 and zero exact-collapse edges at sf0.01/sf0.001;
    # the substring and exact classes are pytest-verified on the planted
    # corpus instead (tests/test_pipeline_end_to_end.py).
    res = _run_pipeline(spark, sf_dir)
    return res.clusters.orderBy("url")


def q_dedup_retention(spark, sf_dir):
    # cluster retention policy (operators/retention.py): dedup's final
    # decision — keep exactly one member per duplicate cluster (longest
    # text, url tiebreak), drop the rest. Oracle = the same recursive-CTE
    # closure as dedup_clusters plus a row_number window.
    from video_duplicate_finder_python_spark.operators.retention import (
        cluster_retention,
    )

    res = _run_pipeline(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        "n_chars",
    )
    return cluster_retention(res.clusters, docs).orderBy("url")


def q_gopher_filter(spark, sf_dir):
    # composite Gopher-style keep/drop filter (textstats.gopher_flags):
    # per-rule boolean flags + combined keep, all integer comparisons or
    # single IEEE divides over integer counts — bit-identical in DuckDB.
    from video_duplicate_finder_python_spark.functions.textstats import gopher_flags

    flags = gopher_flags(F.col("text"))
    return (
        _spread(_t(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            *[flags[k].alias(k) for k in
              ("too_short", "too_long", "bad_word_len", "no_stopwords",
               "repetitive", "keep")],
        )
        .orderBy("doc_id")
    )


def q_dedup_clusters_with_exact(spark, sf_dir):
    # the exact-duplicate class with rows > 0 (round-2 verdict #1): union
    # documents with byte-identical re-keyed copies, run the FULL
    # pipeline — copies collapse in exact_representatives
    # (operators/exact.py:35-68, reference comparator.py:52-63), reach CC
    # as star edges, and the clusters must match the DuckDB recursive-CTE
    # jaccard closure over the same union corpus (copy↔origin pairs are
    # Jaccard 1.0, so the closure needs no separate exact predicate).
    res = _run_pipeline(spark, sf_dir, "exact")
    return res.clusters.orderBy("url")


def q_exact_pairs_expanded(spark, sf_dir):
    # the reference's file-level duplicate-pair view
    # (PipelineResult.pairs_url_level, reference database.py:49-60):
    # within-exact-group pairs surface with source tag 'exact'; oracle is
    # the md5-equality self-join over the derived corpus.
    res = _run_pipeline(spark, sf_dir, "exact")
    return (
        res.pairs_url_level()
        .where(F.array_contains("sources", "exact"))
        .select("url_a", "url_b")
        .orderBy("url_a", "url_b")
    )


def q_substring_dup_clusters(spark, sf_dir):
    # the substring-only duplicate class with rows > 0 (round-2 verdict
    # #1): planted twin pairs share ONLY a ~900-char verbatim span
    # (Jaccard ≈ 0.42), so clustering them requires the CDC-fingerprint
    # candidates + anchored-common-span verification path
    # (functions/fingerprint.py, operators/verify.py) — the class LSH
    # can't catch. Oracle: base-corpus jaccard closure UNION the planted
    # twin clusters (twins touch nothing else by construction).
    res = _run_pipeline(spark, sf_dir, "substring")
    return res.clusters.orderBy("url")


def q_substring_pair_spans(spark, sf_dir):
    # the anchored-common-span verifier's VALUES, hash-matched: for the
    # planted twins the maximal common span is the shared token span plus
    # the joining space (tails diverge at their first byte), and
    # anchored_common_span_len recovers it exactly (functions/
    # fingerprint.py:87-141) — the oracle recomputes length(span)+1 from
    # the same doc_id recipe. Filter = substring-ONLY duplicates
    # (is_dup below the jaccard threshold).
    cfg = DedupConfig()
    res = _run_pipeline(spark, sf_dir, "substring")
    return (
        res.pairs.where(
            F.col("is_dup") & (F.col("jaccard") < cfg.jaccard_threshold)
        )
        .select("url_a", "url_b", F.col("lcs_len").cast("bigint").alias("lcs_len"))
        .orderBy("url_a", "url_b")
    )


def q_suffix_array_pair_spans(spark, sf_dir):
    # the generalized-suffix-array substring pass (operators/
    # suffix_array.py — the north rule's named third method beside
    # MinHash/SimHash), hash-matched on VALUES: within each doc family
    # (group = doc_id % 1e6, putting a seed doc and its two planted twins
    # together) the only >=500-char verbatim overlap is the twins' shared
    # span, and the pass recovers the EXACT longest-common-substring
    # length — the same span+joining-space value the independent SQL
    # recipe reconstructs (cf. substring_pair_spans, which verifies the
    # CDC path on the same planted class).
    from video_duplicate_finder_python_spark.operators.suffix_array import (
        suffix_array_pairs,
    )

    cfg = DedupConfig()
    d = _derived_docs(spark, sf_dir, "substring").select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        "text",
        (F.col("doc_id") % 1_000_000).alias("family"),
    )
    return (
        suffix_array_pairs(
            d,
            F.col("family"),
            min_len=cfg.substring_min_len,
            # planted-family group counts are benchmark-corpus-sized at
            # every sf; one wave of cores beats the session-width pandas
            # dispatch (operator docstring, measured 2.75 -> 0.96 s)
            n_partitions=spark.sparkContext.defaultParallelism,
        )
        .select("url_a", "url_b", F.col("lcs_len").cast("bigint").alias("lcs_len"))
        .transform(_presort)
        .orderBy("url_a", "url_b")
    )


def q_dedup_clusters_with_suffix(spark, sf_dir):
    # SURVEY §7 step 8 discharged END-TO-END (round-4 verdict #1): the
    # full pipeline with the generalized suffix-array pass wired in as a
    # candidate source REPLACING the CDC-fingerprint source
    # (candidate_sources swaps "suffix" for "suffix_array"), grouped by
    # doc family (doc_id % 1e6 puts each seed doc with its two planted
    # twins). The planted substring-only twins (Jaccard ≈ 0.42) can now
    # ONLY be clustered via suffix_array_pairs → verify (exact-LCS hint)
    # → connected components — so a green row proves the operator drives
    # the whole DAG, not just its standalone query. Oracle: identical to
    # substring_dup_clusters (the expected clusters are the same; only
    # the candidate path differs).
    cfg = DedupConfig(
        candidate_sources=("minhash", "simhash", "suffix_array"),
        suffix_group_expr=(
            "pmod(cast(regexp_extract(url, '([0-9]+)$', 1) as bigint), 1000000)"
        ),
    )
    res = _run_pipeline(spark, sf_dir, "substring", cfg)
    return res.clusters.orderBy("url")


def q_embedding_dup_clusters(spark, sf_dir):
    # embedding-cosine near-dup clustering (training-pipeline brief):
    # connected components over the exact quantized-dot >= threshold edge
    # set — the same operator the text pipeline uses (SURVEY O10), oracled
    # by a DuckDB recursive closure over the identical edges. vec_ids are
    # zero-padded before CC (its min() is lexicographic) so min-string ==
    # min-numeric.
    from video_duplicate_finder_python_spark.operators.connected_components import (
        connected_components,
    )

    pairs = q_embedding_dot_pairs(spark, sf_dir)
    edges = pairs.select(
        F.lpad(F.col("vec_a").cast("string"), 12, "0").alias("u"),
        F.lpad(F.col("vec_b").cast("string"), 12, "0").alias("v"),
    )
    return (
        connected_components(edges)
        .select(
            F.col("url").cast("bigint").alias("vec_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )
        .orderBy("vec_id")
    )


def q_minhash_signatures(spark, sf_dir):
    # SURVEY O2: 128-perm MinHash + 64-bit SimHash signatures. All columns
    # are canonical scalars — the minhash array is folded to an md5 digest
    # (the raw array<int> broke the driver's canonicalizer in round 1);
    # determinism + Jaccard-estimation quality are pytest-verified
    # (tests/test_signatures.py).
    from video_duplicate_finder_python_spark.functions.signatures import (
        make_text_signature_udf,
    )

    cfg = DedupConfig()
    udf = make_text_signature_udf(cfg.seed, cfg.num_perm, cfg.shingle_k)
    return (
        _spread(_t(spark, sf_dir, "documents"))
        .withColumn("sig", udf("text"))
        .select(
            "doc_id",
            "sig.n_shingles",
            "sig.simhash",
            F.md5(F.concat_ws(",", F.col("sig.minhash"))).alias("minhash_md5"),
        )
        .transform(_presort)
        .orderBy("doc_id")
    )


def q_shingle_counts(spark, sf_dir):
    # SURVEY O2, the SQL-expressible slice: the engine's own shingling UDF
    # (distinct 5-word shingles per doc) against a pure-SQL DuckDB oracle.
    # Counts agree unless two distinct shingle strings collide in the
    # 64-bit rolling hash within one doc (odds ~m²/2^65 per doc, nil here).
    from video_duplicate_finder_python_spark.functions.signatures import (
        make_text_signature_udf,
    )

    cfg = DedupConfig()
    udf = make_text_signature_udf(cfg.seed, cfg.num_perm, cfg.shingle_k)
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", udf("text").getField("n_shingles").alias("n_shingles"))
        .orderBy("doc_id")
    )


def q_jaccard_clusters(spark, sf_dir):
    # SURVEY O10: the engine's connected-components operator over
    # brute-force Jaccard>=0.8 edges, vs a DuckDB recursive-CTE transitive
    # closure — the independent oracle for the clustering semantics the
    # flagship query relies on (reference merge loop:
    # /root/reference/src/gui/main_window.py:224-264). Doc ids are
    # zero-padded before CC (its min() is lexicographic on url strings) so
    # min-string == min-numeric.
    from video_duplicate_finder_python_spark.operators.connected_components import (
        connected_components,
    )

    d = _with_shingle_strings(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "text"
    ).select("doc_id", "s")
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    edges = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .where((inter.cast("double") / union.cast("double")) >= 0.8)
        .select(
            F.lpad(F.col("doc_a").cast("string"), 12, "0").alias("u"),
            F.lpad(F.col("doc_b").cast("string"), 12, "0").alias("v"),
        )
    )
    return (
        connected_components(edges)
        .select(
            F.col("url").cast("bigint").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


def q_cdc_fingerprints(spark, sf_dir):
    # substring pass: per-doc CDC fingerprint counts
    from video_duplicate_finder_python_spark.functions.fingerprint import (
        cdc_fingerprints_udf,
    )

    cfg = DedupConfig()
    udf = cdc_fingerprints_udf(cfg.cdc_window, cfg.cdc_mask_bits, cfg.cdc_min_chunk)
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.size(udf("text")).cast("bigint").alias("n_fingerprints"))
        .transform(_presort)
        .orderBy("doc_id")
    )


def q_knn_cosine_q0(spark, sf_dir):
    # float cosine variant. Oracle-able despite float math: F.aggregate is a
    # LEFT fold with 0.0 init, and 0.0 + x == x bit-exactly, so DuckDB's
    # list_reduce (left fold seeded with the first element) reproduces the
    # exact same double-addition order; the final /sqrt(na*nb) is single
    # IEEE-correctly-rounded ops — bit-identical across engines.
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qe")
    )
    ed = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(ed, F.col("qe"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.aggregate(ed, F.lit(0.0), lambda acc, x: acc + x * x)
    nb = F.aggregate(F.col("qe"), F.lit(0.0), lambda acc, x: acc + x * x)
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", (dot / F.sqrt(na * nb)).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


def q_ann_lsh_q0(spark, sf_dir):
    # scale-path ANN: hyperplane-LSH buckets + multiprobe (rows-only check;
    # exactness baseline is knn_dot_q0/knn_cosine_q0)
    from video_duplicate_finder_python_spark.operators.ann import lsh_topk

    return lsh_topk(_t(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_simhash_dup_pairs(spark, sf_dir):
    # SimHash as an explicit dedup method entry (the brief's five methods:
    # exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine)
    # — now HASH-MATCHED against DuckDB (round-6 upgrade, VERDICT r5 #3):
    # functions/simhash_sql.py expresses signature computation over a hash
    # both engines implement bit-identically (md5 → 60-bit tokens, integer
    # majority votes), pigeonhole chunk candidates, and a bit_count(xor)
    # Hamming verify — the full SimHash dedup semantic, cross-engine
    # checked end-to-end. The production pipeline's blake2b SimHash path
    # (faster per token, same algorithm) keeps its pigeonhole-recall and
    # determinism pytests (tests/test_signatures.py, test_bucket_join.py).
    from video_duplicate_finder_python_spark.functions.simhash_sql import (
        simhash_sql_pairs,
    )

    return simhash_sql_pairs(_t(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


def q_ann_ivf_q0(spark, sf_dir):
    # IVF coarse-quantizer ANN (the second scale structure beside the
    # hyperplane-LSH tables; the brief names "IVF or LSH-bucketed" — both
    # are implemented). Rows-only: k-means cells have no SQL oracle;
    # exactness baseline is knn_cosine_q0, recall pytest-verified.
    from video_duplicate_finder_python_spark.operators.ann import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_media_features(spark, sf_dir):
    # multimodal plumbing: binary media -> typed features via mapInPandas
    # (deterministic fake decode; real codecs are stubbed, see
    # functions/multimodal.py). HASH-MATCHED since round 6: the fake
    # decoder's pseudo-dimensions are integer arithmetic on the byte
    # length, which the DuckDB oracle replays from octet_length() — so the
    # whole Arrow batch-iteration path (row alignment, None-row drops,
    # schema) is cross-engine verified, not just row-counted.
    from video_duplicate_finder_python_spark.functions.multimodal import decode_media

    pages = documents_as_pages(spark, sf_dir)
    return decode_media(pages, key_col="url", media_col="html").select(
        "key", "width", "height", "n_bytes"
    ).orderBy("key")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Exactly 50 entries, deliberately (round 6): the driver records at
    # most 50 correctness rows, and round 5's two over-budget entries were
    # silently absent from CORRECTNESS_r05.json (VERDICT r5 #3). Two
    # lowest-signal entries were retired to bring the upgraded ones back
    # under the cap: exact_dup_pairs (0 rows at every checked SF; the
    # exact class is hash-verified via exact_pairs_expanded and
    # dedup_clusters_with_exact) and media_sizes (strictly subsumed by
    # media_features, which now hash-matches the n_bytes column AND the
    # decoded dimensions).
    return {
        "doc_content_hash": q_doc_content_hash,
        "hash_bucket_sizes": q_hash_bucket_sizes,
        "token_counts": q_token_counts,
        "lang_stats": q_lang_stats,
        "stopword_ratio": q_stopword_ratio,
        "top_docs_by_chars": q_top_docs_by_chars,
        "jaccard_pairs_brute": q_jaccard_pairs_brute,
        "near_dup_pairs_lsh": q_near_dup_pairs_lsh,
        "pricing_summary": q_pricing_summary,
        "top_customer_spend": q_top_customer_spend,
        "order_priority_count": q_order_priority_count,
        "events_daily": q_events_daily,
        "latest_event_per_user": q_latest_event_per_user,
        "user_sessions": q_user_sessions,
        "events_rollup": q_events_rollup,
        "customers_without_orders": q_customers_without_orders,
        "knn_dot_q0": q_knn_dot_q0,
        "knn_dot_q0_udf": q_knn_dot_q0_udf,
        "embedding_dot_pairs": q_embedding_dot_pairs,
        "doc_previews": q_doc_previews,
        "lang_id_guess": q_lang_id_guess,
        "regex_token_counts": q_regex_token_counts,
        "quality_scores": q_quality_scores,
        "repetition_scores": q_repetition_scores,
        "tfidf_top_terms": q_tfidf_top_terms,
        "weighted_jaccard_pairs": q_weighted_jaccard_pairs,
        "line_dedup_cleaned": q_line_dedup_cleaned,
        "contaminated_docs": q_contaminated_docs,
        "url_dedup": q_url_dedup,
        "domain_stats": q_domain_stats,
        "pii_scrubbed": q_pii_scrubbed,
        "dedup_clusters": q_dedup_clusters,
        "dedup_retention": q_dedup_retention,
        "gopher_filter": q_gopher_filter,
        "dedup_clusters_with_exact": q_dedup_clusters_with_exact,
        "exact_pairs_expanded": q_exact_pairs_expanded,
        "substring_dup_clusters": q_substring_dup_clusters,
        "substring_pair_spans": q_substring_pair_spans,
        "suffix_array_pair_spans": q_suffix_array_pair_spans,
        "dedup_clusters_with_suffix": q_dedup_clusters_with_suffix,
        "embedding_dup_clusters": q_embedding_dup_clusters,
        "jaccard_clusters": q_jaccard_clusters,
        "shingle_counts": q_shingle_counts,
        "minhash_signatures": q_minhash_signatures,
        "cdc_fingerprints": q_cdc_fingerprints,
        "knn_cosine_q0": q_knn_cosine_q0,
        "ann_lsh_q0": q_ann_lsh_q0,
        "ann_ivf_q0": q_ann_ivf_q0,
        "simhash_dup_pairs": q_simhash_dup_pairs,
        "media_features": q_media_features,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, same aliases as the Spark side)
# --------------------------------------------------------------------------
_SHINGLE_CTE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 5
      THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
                                        i -> array_to_string(t[i:i+4], ' ')))
      ELSE [array_to_string(t, ' ')] END AS s
  FROM toks)
"""

_JACCARD_PAIRS = _SHINGLE_CTE + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  len(list_intersect(a.s, b.s))::DOUBLE
    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE AS jac
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
"""


def _closure_sql(docs_cte: str) -> str:
    """Recursive-CTE transitive closure of the brute-force jaccard>=0.8
    graph over url strings, for an arbitrary (doc_id, text) corpus CTE —
    the independent clustering oracle (same shape as the green
    dedup_clusters SQL). No trailing ORDER BY so callers can UNION."""
    return (
        "WITH RECURSIVE "
        f"alldocs AS ({docs_cte}), "
        "toks AS (SELECT 'https://docs.example/' || CAST(doc_id AS VARCHAR) AS url, "
        "string_split(text, ' ') AS t FROM alldocs), "
        "sh AS (SELECT url, CASE WHEN len(t) >= 5 "
        "THEN list_distinct(list_transform(generate_series(1, len(t) - 4), "
        "i -> array_to_string(t[i:i+4], ' '))) "
        "ELSE [array_to_string(t, ' ')] END AS s FROM toks), "
        "jp AS (SELECT a.url AS src, b.url AS dst "
        "FROM sh a JOIN sh b ON a.url < b.url "
        "WHERE len(list_intersect(a.s, b.s))::DOUBLE "
        "/ (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.8), "
        "edges AS (SELECT src, dst FROM jp UNION ALL SELECT dst, src FROM jp), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "walk(node, reach) AS ("
        "SELECT node, node FROM nodes "
        "UNION "
        "SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src) "
        "SELECT node AS url, min(reach) AS cluster_id "
        "FROM walk GROUP BY node"
    )


_MESSY_URLS_CTE = (
    "WITH murls AS (SELECT doc_id, n_chars, "
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END || '://' || "
    "CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE 'www.' END || "
    "'site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM' || "
    "CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END || "
    "'/page/' || CAST(doc_id % 10 AS VARCHAR) || "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 2 AS VARCHAR) "
    "ELSE '?id=' || CAST(doc_id % 2 AS VARCHAR) END || "
    "CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END) AS u FROM documents)"
)


def _canon_chain() -> tuple[str, str]:
    """Chained-CTE form of the urlnorm rewrite steps (returns the CTE text
    and the name of the final CTE). Generated from the very list the Spark
    side mirrors, so the two engines can't drift apart silently."""
    from video_duplicate_finder_python_spark.functions.urlnorm import (
        canonicalize_url_duckdb_steps,
    )

    parts, prev = [], "murls"
    for idx, st in enumerate(canonicalize_url_duckdb_steps(), 1):
        parts.append(f", c{idx} AS (SELECT doc_id, n_chars, {st} AS u FROM {prev})")
        prev = f"c{idx}"
    return "".join(parts), prev


def _pii_oracle_sql() -> str:
    from video_duplicate_finder_python_spark.functions.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    return (
        "WITH p AS (SELECT doc_id, (text || "
        "CASE WHEN doc_id % 3 = 0 THEN ' Contact user' || CAST(doc_id % 40 AS VARCHAR) "
        "|| '@mail.example.org now.' ELSE '' END || "
        "CASE WHEN doc_id % 5 = 0 THEN ' Call 555-' || "
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199 today.' ELSE '' END || "
        "CASE WHEN doc_id % 4 = 0 THEN ' Server at 10.0.' || CAST(doc_id % 200 AS VARCHAR) "
        "|| '.' || CAST(doc_id % 250 AS VARCHAR) || ' up.' ELSE '' END) AS ptext "
        "FROM documents), "
        f"e AS (SELECT doc_id, ptext, regexp_replace(ptext, '{EMAIL_RE}', '<EMAIL>', 'g') "
        "AS after_email FROM p), "
        f"ph AS (SELECT *, regexp_replace(after_email, '{PHONE_RE}', '<PHONE>', 'g') "
        "AS after_phone FROM e) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(ptext, '{EMAIL_RE}')) AS BIGINT) AS n_emails, "
        f"CAST(len(regexp_extract_all(after_email, '{PHONE_RE}')) AS BIGINT) AS n_phones, "
        f"CAST(len(regexp_extract_all(after_phone, '{IPV4_RE}')) AS BIGINT) AS n_ips, "
        f"regexp_replace(after_phone, '{IPV4_RE}', '<IP>', 'g') AS scrubbed "
        "FROM ph ORDER BY doc_id"
    )


# the recursive-CTE transitive closure of the brute-force jaccard>=0.8
# graph — the shared oracle core for dedup_clusters and dedup_retention
_CLOSURE_CTES = (
    "WITH RECURSIVE "
    "toks AS (SELECT 'https://docs.example/' || CAST(doc_id AS VARCHAR) AS url, "
    "string_split(text, ' ') AS t FROM documents), "
    "sh AS (SELECT url, CASE WHEN len(t) >= 5 "
    "THEN list_distinct(list_transform(generate_series(1, len(t) - 4), "
    "i -> array_to_string(t[i:i+4], ' '))) "
    "ELSE [array_to_string(t, ' ')] END AS s FROM toks), "
    "jp AS (SELECT a.url AS src, b.url AS dst "
    "FROM sh a JOIN sh b ON a.url < b.url "
    "WHERE len(list_intersect(a.s, b.s))::DOUBLE "
    "/ (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.8), "
    "edges AS (SELECT src, dst FROM jp UNION ALL SELECT dst, src FROM jp), "
    "nodes AS (SELECT DISTINCT src AS node FROM edges), "
    "walk(node, reach) AS ("
    "SELECT node, node FROM nodes "
    "UNION "
    "SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src)"
)
_CLOSURE_SELECT = (
    "SELECT node AS url, min(reach) AS cluster_id FROM walk GROUP BY node"
)


def oracle_sql() -> dict[str, str]:
    from video_duplicate_finder_python_spark.functions.simhash_sql import (
        simhash_sql_oracle as _simhash_sql_oracle,
    )

    _canon_ctes, _canon_last = _canon_chain()
    return {
        "doc_content_hash": (
            "SELECT doc_id, md5(text) AS content_hash FROM documents ORDER BY doc_id"
        ),
        "hash_bucket_sizes": (
            "SELECT substr(md5(text), 1, 2) AS bucket, count(*) AS n_docs "
            "FROM documents GROUP BY bucket ORDER BY bucket"
        ),
        "simhash_dup_pairs": _simhash_sql_oracle(),
        "token_counts": (
            "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
            "FROM documents ORDER BY doc_id"
        ),
        "lang_stats": (
            "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "stopword_ratio": (
            "SELECT doc_id, "
            "len(list_filter(string_split(text,' '), "
            "t -> t IN ('the','a','of','and','to')))::DOUBLE "
            "/ len(string_split(text,' '))::DOUBLE AS stopword_ratio "
            "FROM documents ORDER BY doc_id"
        ),
        "top_docs_by_chars": (
            "SELECT doc_id, n_chars FROM documents "
            "ORDER BY n_chars DESC, doc_id LIMIT 20"
        ),
        "url_dedup": (
            _MESSY_URLS_CTE + _canon_ctes
            + f" SELECT u AS canonical_url, count(*) AS n_docs, "
            f"min(doc_id) AS min_doc_id FROM {_canon_last} "
            "GROUP BY u ORDER BY canonical_url"
        ),
        "domain_stats": (
            _MESSY_URLS_CTE + _canon_ctes
            + " SELECT regexp_extract(u, '^[a-z][a-z0-9+.\\-]*://([^/:?#]+)', 1) "
            f"AS host, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) "
            f"AS sum_chars FROM {_canon_last} GROUP BY host ORDER BY host"
        ),
        "pii_scrubbed": _pii_oracle_sql(),
        "jaccard_pairs_brute": _JACCARD_PAIRS + "ORDER BY jac DESC, doc_a, doc_b LIMIT 20",
        "shingle_counts": (
            _SHINGLE_CTE
            + "SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles "
            + "FROM sh ORDER BY doc_id"
        ),
        "dedup_clusters": _CLOSURE_CTES + " " + _CLOSURE_SELECT + " ORDER BY url",
        "dedup_retention": (
            _CLOSURE_CTES
            + ", cl AS (" + _CLOSURE_SELECT + "), "
            "d AS (SELECT 'https://docs.example/' || CAST(doc_id AS VARCHAR) AS url, "
            "n_chars FROM documents) "
            "SELECT cl.url, cl.cluster_id, "
            "(row_number() OVER (PARTITION BY cl.cluster_id "
            "ORDER BY d.n_chars DESC, cl.url) = 1) AS is_kept "
            "FROM cl JOIN d USING (url) ORDER BY url"
        ),
        "gopher_filter": (
            "SELECT doc_id, "
            "n < 50 AS too_short, "
            "n > 100000 AS too_long, "
            "(mwl < 3.0 OR mwl > 10.0) AS bad_word_len, "
            "nstop = 0 AS no_stopwords, "
            "rep > 0.2 AS repetitive, "
            "NOT (n < 50 OR n > 100000 OR mwl < 3.0 OR mwl > 10.0 "
            "OR nstop = 0 OR rep > 0.2) AS keep "
            "FROM (SELECT doc_id, len(t) AS n, "
            "CAST(length(text) - (len(t) - 1) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS mwl, "
            "len(list_filter(t, x -> x IN "
            "('the','a','of','and','to','in','is','it'))) AS nstop, "
            "CASE WHEN len(t) >= 2 THEN "
            "CAST(1 AS DOUBLE) - CAST(len(list_distinct(bg)) AS DOUBLE) "
            "/ CAST(len(bg) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS rep "
            "FROM (SELECT doc_id, text, t, list_transform(generate_series(1, len(t)-1), "
            "i -> t[i] || ' ' || t[i+1]) AS bg "
            "FROM (SELECT doc_id, text, string_split(text,' ') AS t FROM documents))) "
            "ORDER BY doc_id"
        ),
        "dedup_clusters_with_exact": (
            _closure_sql(
                "SELECT doc_id, text FROM documents "
                "UNION ALL "
                "SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0"
            )
            + " ORDER BY url"
        ),
        "exact_pairs_expanded": (
            "WITH alldocs AS (SELECT doc_id, text FROM documents "
            "UNION ALL "
            "SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0), "
            "u AS (SELECT 'https://docs.example/' || CAST(doc_id AS VARCHAR) AS url, "
            "md5(text) AS h FROM alldocs) "
            "SELECT a.url AS url_a, b.url AS url_b "
            "FROM u a JOIN u b ON a.h = b.h AND a.url < b.url "
            "ORDER BY url_a, url_b"
        ),
        "substring_dup_clusters": (
            # base-corpus jaccard closure UNION the planted twin clusters:
            # each seed doc_id i yields docs (2000000+i, 3000000+i) whose
            # only relation is the shared >=500-char span, so their
            # 2-cluster (id = the lexicographically smaller 2000000 url)
            # is constructible without recursion
            _closure_sql("SELECT doc_id, text FROM documents")
            + " UNION ALL "
            "SELECT 'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR), "
            "'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR) "
            "FROM documents WHERE doc_id % 50 = 0 "
            "UNION ALL "
            "SELECT 'https://docs.example/' || CAST(doc_id + 3000000 AS VARCHAR), "
            "'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR) "
            "FROM documents WHERE doc_id % 50 = 0 "
            "ORDER BY url"
        ),
        # identical expected clustering to substring_dup_clusters — the
        # suffix-array candidate path must reach the same fixpoint the
        # CDC path does (same planted twins, same closure)
        "dedup_clusters_with_suffix": (
            _closure_sql("SELECT doc_id, text FROM documents")
            + " UNION ALL "
            "SELECT 'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR), "
            "'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR) "
            "FROM documents WHERE doc_id % 50 = 0 "
            "UNION ALL "
            "SELECT 'https://docs.example/' || CAST(doc_id + 3000000 AS VARCHAR), "
            "'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR) "
            "FROM documents WHERE doc_id % 50 = 0 "
            "ORDER BY url"
        ),
        "substring_pair_spans": (
            "SELECT 'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR) AS url_a, "
            "'https://docs.example/' || CAST(doc_id + 3000000 AS VARCHAR) AS url_b, "
            "length(array_to_string(list_transform(generate_series(1, 150), "
            "j -> 'w' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' ')) + 1 AS lcs_len "
            "FROM documents WHERE doc_id % 50 = 0 ORDER BY url_a, url_b"
        ),
        # same planted-span recipe: the suffix-array pass must recover the
        # identical exact spans the CDC path's verifier does
        "suffix_array_pair_spans": (
            "SELECT 'https://docs.example/' || CAST(doc_id + 2000000 AS VARCHAR) AS url_a, "
            "'https://docs.example/' || CAST(doc_id + 3000000 AS VARCHAR) AS url_b, "
            "length(array_to_string(list_transform(generate_series(1, 150), "
            "j -> 'w' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' ')) + 1 AS lcs_len "
            "FROM documents WHERE doc_id % 50 = 0 ORDER BY url_a, url_b"
        ),
        "embedding_dup_clusters": (
            "WITH RECURSIVE "
            "ez AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e "
            "FROM embeddings), "
            "jp AS (SELECT a.vec_id AS src, b.vec_id AS dst "
            "FROM ez a JOIN ez b ON a.vec_id < b.vec_id "
            "WHERE CAST(list_sum(list_transform(generate_series(1, len(a.e)), "
            "i -> a.e[i] * b.e[i])) AS BIGINT) >= 450000000000), "
            "edges AS (SELECT src, dst FROM jp UNION ALL SELECT dst, src FROM jp), "
            "nodes AS (SELECT DISTINCT src AS node FROM edges), "
            "walk(node, reach) AS ("
            "SELECT node, node FROM nodes "
            "UNION "
            "SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src) "
            "SELECT node AS vec_id, CAST(min(reach) AS BIGINT) AS cluster_id "
            "FROM walk GROUP BY node ORDER BY vec_id"
        ),
        "media_features": (
            # replays the mapInPandas fake decoder from octet_length: the
            # pseudo-dimensions are a Knuth multiplicative hash of the byte
            # length (functions/multimodal.py:_fake_decode), exact integer
            # arithmetic in both engines
            "WITH m AS (SELECT 'https://docs.example/' || CAST(doc_id AS VARCHAR) AS key, "
            "octet_length(encode('<html><head><title>t' || CAST(doc_id AS VARCHAR) "
            "|| '</title></head><body><p>' || text || '</p></body></html>')) AS n_bytes "
            "FROM documents), "
            "h AS (SELECT key, n_bytes, (n_bytes * 2654435761) % 4294967296 AS hh FROM m) "
            "SELECT key, CAST(64 + hh % 192 AS INTEGER) AS width, "
            "CAST(64 + (hh // 192) % 192 AS INTEGER) AS height, "
            "CAST(n_bytes AS BIGINT) AS n_bytes FROM h ORDER BY key"
        ),
        "jaccard_clusters": (
            "WITH RECURSIVE "
            "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
            "sh AS (SELECT doc_id, CASE WHEN len(t) >= 5 "
            "THEN list_distinct(list_transform(generate_series(1, len(t) - 4), "
            "i -> array_to_string(t[i:i+4], ' '))) "
            "ELSE [array_to_string(t, ' ')] END AS s FROM toks), "
            "jp AS (SELECT a.doc_id AS src, b.doc_id AS dst "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE len(list_intersect(a.s, b.s))::DOUBLE "
            "/ (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.8), "
            "edges AS (SELECT src, dst FROM jp UNION ALL SELECT dst, src FROM jp), "
            "nodes AS (SELECT DISTINCT src AS node FROM edges), "
            "walk(node, reach) AS ("
            "SELECT node, node FROM nodes "
            "UNION "
            "SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src) "
            "SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id "
            "FROM walk GROUP BY node ORDER BY doc_id"
        ),
        "near_dup_pairs_lsh": (
            _SHINGLE_CTE
            + "SELECT doc_a, doc_b, jac FROM ("
            + "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            + "len(list_intersect(a.s, b.s))::DOUBLE"
            + " / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE AS jac "
            + "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) "
            + "WHERE jac >= 0.8 ORDER BY doc_a, doc_b"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
            "CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sum_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-09-02' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        ),
        "top_customer_spend": (
            "SELECT c_custkey AS custkey, c_name AS name, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_custkey, c_name ORDER BY spend DESC, custkey LIMIT 10"
        ),
        "order_priority_count": (
            "SELECT o_orderpriority, count(*) AS n_orders FROM orders "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        "events_daily": (
            "SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events "
            "FROM events GROUP BY day ORDER BY day"
        ),
        "latest_event_per_user": (
            "SELECT user_id, event_id, event_type FROM ("
            "  SELECT user_id, event_id, event_type, "
            "  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn"
            "  FROM events) WHERE rn = 1 ORDER BY user_id"
        ),
        "user_sessions": (
            # floor(epoch(ts)): DuckDB's epoch() is fractional-seconds;
            # Spark's cast-to-long truncates — floor makes the two
            # sessionizations identical by construction, not by luck.
            # CAST(... AS BIGINT): DuckDB's windowed SUM returns HUGEINT,
            # which canonicalizes as float vs Spark's bigint.
            "WITH g AS (SELECT user_id, ts, event_id, "
            "CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) > 1800 "
            "OR lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "THEN 1 ELSE 0 END AS is_new FROM events), "
            "s AS (SELECT user_id, ts, CAST(SUM(is_new) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM g) "
            "SELECT user_id, session_no, count(*) AS n_events, "
            "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start "
            "FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no"
        ),
        "events_rollup": (
            "SELECT coalesce(day, 'ALL') AS day, "
            "coalesce(event_type, 'ALL') AS event_type, count(*) AS n_events "
            "FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type FROM events) "
            "GROUP BY ROLLUP(day, event_type) ORDER BY day, event_type"
        ),
        "customers_without_orders": (
            "SELECT c_custkey AS custkey, c_name AS name FROM customer "
            "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
            "ORDER BY custkey"
        ),
        "knn_dot_q0_udf": (
            # identical oracle to knn_dot_q0 — the UDF path must reproduce
            # the quantized integer arithmetic exactly
            "WITH qz AS (SELECT list_transform(embedding, "
            "  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe "
            "  FROM embeddings WHERE vec_id = 0), "
            "ez AS (SELECT vec_id, list_transform(embedding, "
            "  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ee "
            "  FROM embeddings WHERE vec_id <> 0) "
            "SELECT vec_id, CAST(list_sum(list_transform("
            "  generate_series(1, len(ee)), i -> ee[i] * qe[i])) AS BIGINT) AS dot_q0 "
            "FROM ez, qz ORDER BY dot_q0 DESC, vec_id LIMIT 10"
        ),
        "knn_cosine_q0": (
            # bit-exact float oracle: list_reduce is a left fold seeded with
            # the first element, identical to Spark's F.aggregate left fold
            # with 0.0 init (0.0 + x == x); products, sqrt and divide are
            # single correctly-rounded IEEE ops
            "WITH qz AS (SELECT CAST(embedding AS DOUBLE[]) AS qe "
            "  FROM embeddings WHERE vec_id = 0), "
            "ez AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee "
            "  FROM embeddings WHERE vec_id <> 0) "
            "SELECT vec_id, "
            "list_reduce(list_transform(generate_series(1, len(ee)), "
            "  i -> ee[i] * qe[i]), (a, b) -> a + b) "
            "/ sqrt(list_reduce(list_transform(ee, x -> x * x), (a, b) -> a + b) "
            "  * list_reduce(list_transform(qe, x -> x * x), (a, b) -> a + b)) "
            "AS cosine FROM ez, qz ORDER BY cosine DESC, vec_id LIMIT 10"
        ),
        "knn_dot_q0": (
            "WITH qz AS (SELECT list_transform(embedding, "
            "  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe "
            "  FROM embeddings WHERE vec_id = 0), "
            "ez AS (SELECT vec_id, list_transform(embedding, "
            "  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ee "
            "  FROM embeddings WHERE vec_id <> 0) "
            "SELECT vec_id, CAST(list_sum(list_transform("
            "  generate_series(1, len(ee)), i -> ee[i] * qe[i])) AS BIGINT) AS dot_q0 "
            "FROM ez, qz ORDER BY dot_q0 DESC, vec_id LIMIT 10"
        ),
        "embedding_dot_pairs": (
            "WITH ez AS (SELECT vec_id, list_transform(embedding, "
            "  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e "
            "  FROM embeddings) "
            "SELECT vec_a, vec_b, dot FROM ("
            "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
            "CAST(list_sum(list_transform(generate_series(1, len(a.e)), "
            "  i -> a.e[i] * b.e[i])) AS BIGINT) AS dot "
            "FROM ez a JOIN ez b ON a.vec_id < b.vec_id) "
            "WHERE dot >= 450000000000 ORDER BY vec_a, vec_b"
        ),
        "doc_previews": (
            "SELECT doc_id, substr(text, 1, 200) AS preview "
            "FROM documents ORDER BY doc_id"
        ),
        "lang_id_guess": (
            "SELECT doc_id, CASE "
            "WHEN en >= de AND en >= fr AND en > 0 THEN 'en' "
            "WHEN de >= fr AND de > 0 THEN 'de' "
            "WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lang_guess FROM ("
            "SELECT doc_id, "
            "len(list_filter(string_split(text,' '), t -> t IN "
            "('the','a','of','and','to','in','is','it'))) AS en, "
            "len(list_filter(string_split(text,' '), t -> t IN "
            "('der','die','das','und','ist','nicht','ein'))) AS de, "
            "len(list_filter(string_split(text,' '), t -> t IN "
            "('le','la','les','et','est','un','une'))) AS fr "
            "FROM documents) ORDER BY doc_id"
        ),
        "regex_token_counts": (
            "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) "
            "AS BIGINT) AS n_words FROM documents ORDER BY doc_id"
        ),
        "quality_scores": (
            "SELECT doc_id, "
            "least(CAST(len(string_split(text,' ')) AS DOUBLE), 200.0) / 200.0 * 0.5 "
            "+ least(len(list_filter(string_split(text,' '), t -> t IN "
            "('the','a','of','and','to','in','is','it')))::DOUBLE "
            "/ len(string_split(text,' '))::DOUBLE * 10.0, 1.0) * 0.5 AS quality "
            "FROM documents ORDER BY doc_id"
        ),
        # duplicate-2-gram fraction; the CASE guard matches the Spark
        # when(n>=2) so single-token docs are 0.0 on both sides
        "repetition_scores": (
            "SELECT doc_id, CASE WHEN len(t) >= 2 THEN "
            "CAST(1 AS DOUBLE) - CAST(len(list_distinct(bg)) AS DOUBLE) "
            "/ CAST(len(bg) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS rep_frac "
            "FROM (SELECT doc_id, t, list_transform(generate_series(1, len(t)-1), "
            "i -> t[i] || ' ' || t[i+1]) AS bg "
            "FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)) "
            "ORDER BY doc_id"
        ),
        "tfidf_top_terms": (
            "WITH tfc AS (SELECT doc_id, term, count(*) AS tf FROM "
            "(SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents) "
            "GROUP BY 1, 2), "
            "dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1), "
            "nn AS (SELECT count(*) AS n FROM documents), "
            "scored AS (SELECT t.doc_id, t.term, t.tf, d.df, "
            "CAST(t.tf * (SELECT n FROM nn) AS DOUBLE) / CAST(d.df AS DOUBLE) "
            "AS score FROM tfc t JOIN dfc d USING (term)), "
            "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score DESC, term) AS term_rank FROM scored) "
            "SELECT doc_id, term, tf, df, score, term_rank FROM ranked "
            "WHERE term_rank <= 3 ORDER BY doc_id, term_rank"
        ),
        # multiset Jaccard over the same banded pairs the Spark query
        # builds; sum(min)/[tot_a+tot_b-sum(min)], one IEEE divide
        "weighted_jaccard_pairs": (
            "WITH tc AS (SELECT doc_id, tok, count(*) AS cnt FROM "
            "(SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents) "
            "GROUP BY 1, 2), "
            "tot AS (SELECT doc_id, sum(cnt) AS tot FROM tc GROUP BY 1), "
            "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM documents a "
            "JOIN documents b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5), "
            "itr AS (SELECT p.doc_a, p.doc_b, sum(least(ta.cnt, tb.cnt)) AS inter "
            "FROM pr p JOIN tc ta ON ta.doc_id = p.doc_a "
            "JOIN tc tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok "
            "GROUP BY 1, 2) "
            "SELECT p.doc_a, p.doc_b, "
            "CAST(COALESCE(i.inter, 0) AS DOUBLE) / "
            "CAST(ta.tot + tb.tot - COALESCE(i.inter, 0) AS DOUBLE) AS w_jaccard "
            "FROM pr p LEFT JOIN itr i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b "
            "JOIN tot ta ON ta.doc_id = p.doc_a "
            "JOIN tot tb ON tb.doc_id = p.doc_b "
            "ORDER BY p.doc_a, p.doc_b"
        ),
        # 10-token chunks; a chunk is dropped iff its exact string occurs
        # in >1 document; survivors string_agg back in position order
        # (empty string, not NULL, when everything dropped — matches
        # Spark's array_join of an empty array)
        "line_dedup_cleaned": (
            "WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), "
            "flat AS (SELECT doc_id, c['pos'] AS pos, c['line'] AS line FROM "
            "(SELECT doc_id, unnest(list_transform("
            "generate_series(0, CAST(floor((len(t)-1)/10) AS BIGINT)), "
            "i -> {'pos': i, 'line': array_to_string(t[i*10+1:i*10+10], ' ')})) AS c "
            "FROM toks)), "
            "dup AS (SELECT line FROM flat GROUP BY line "
            "HAVING count(DISTINCT doc_id) > 1), "
            "flagged AS (SELECT f.doc_id, f.pos, f.line, d.line IS NOT NULL AS is_dup "
            "FROM flat f LEFT JOIN dup d USING (line)) "
            "SELECT doc_id, COALESCE(string_agg(CASE WHEN NOT is_dup THEN line END, "
            "' ' ORDER BY pos), '') AS cleaned_text, "
            "CAST(count(*) FILTER (is_dup) AS BIGINT) AS n_dropped "
            "FROM flagged GROUP BY doc_id ORDER BY doc_id"
        ),
        # eval set = every 11th doc; contamination = sharing any exact
        # distinct 5-shingle with it
        "contaminated_docs": (
            _SHINGLE_CTE.rstrip()
            + ", ev AS (SELECT DISTINCT gram FROM "
            "(SELECT unnest(s) AS gram FROM sh WHERE doc_id % 11 = 0)), "
            "cg AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 11 <> 0) "
            "SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_shared "
            "FROM cg JOIN ev USING (gram) GROUP BY doc_id ORDER BY doc_id"
        ),
    }
