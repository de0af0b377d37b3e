"""Per-group generalized suffix-array substring-duplicate pass (SURVEY §2
gap list; the north rule names the suffix-array pass explicitly).

Complements the CDC fingerprint path (functions/fingerprint.py): CDC is the
corpus-wide, no-recall-hole candidate generator; this operator is the
*within-group exhaustive* one — inside a group it finds EVERY pair of
documents sharing a verbatim substring of at least ``min_len`` characters
(no sampling/anchoring gap), at the price of group-local scope. The
natural group key on web corpora is the site/host (``source`` on the
documents table, ``parse_url(url, 'HOST')`` on real pages): verbatim
template/boilerplate reuse is overwhelmingly intra-site, which is exactly
the duplication class LSH's whole-document Jaccard misses.

Scale model (100 TB): one shuffle on the group key; each group is
processed independently inside ``applyInPandas`` with NumPy
prefix-doubling suffix-array construction (O(n log² n) per group,
vectorized). Group size is the unit of memory, and it is bounded BEFORE
the group shuffle: a row_number/running-length window over (group, url) —
carrying only ``(url, group, length)``, never text — caps each group at
``max_docs_per_group`` documents AND ``max_chars_per_group`` characters,
so a skewed host never ships more than the cap's worth of text into one
task (the round-4 shape capped after ``applyInPandas`` had already
materialized the whole group; ADVICE r4 #1). Drops are counted, same
contract as the LSH bucket cap.

Memory model per task (all arrays int32): codes + suffix array + doc ids
≈ 12 bytes/char, plus ~4 bytes/char per stored LCP rank snapshot
(``log2(min_len/16)+1`` snapshots, e.g. 5 at the 500-char default) →
≈ 35 bytes/char ≈ 280 MB at the default 8M-char cap. The LCP needed by
the candidate walk is only ``min(lcp, min_len)`` (the walk thresholds at
``min_len``; exact spans come from the per-pair verifier), so it is
computed fully vectorized from the prefix-doubling rank history — a
descending greedy over the power-of-two snapshots plus one 16-wide block
compare for the residue — replacing the round-4 per-character Python
Kasai loop (ADVICE r4 #2). ``lcp_kasai`` is kept as the exact-LCP test
oracle.

Reference parity: no counterpart in the reference at all (SURVEY.md §2
"Suffix-array substring pass"); the published analog is the suffix-array
dedup of Lee et al., "Deduplicating Training Data Makes Language Models
Better" (ACL 2022), here group-scoped instead of corpus-global.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.lcs import longest_common_substring_len

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("url_a", T.StringType(), False),
        T.StructField("url_b", T.StringType(), False),
        T.StructField("lcs_len", T.IntegerType(), False),
    ]
)

# residue block width for the capped-LCP computation: rank snapshots are
# stored only for prefix lengths >= _RES, and the final < _RES characters
# are resolved by one vectorized 16-wide code comparison per adjacent pair
_RES = 16


class _Scratch:
    """Module-level reusable scratch buffers. Fresh large numpy
    allocations pay first-touch page-fault cost (~50-80 ms/MB on the kind
    of dense multi-tenant host this runs on), which dominates the actual
    vectorized arithmetic here by an order of magnitude; the UDF worker
    process is long-lived and handles many groups, so the O(n) working
    arrays are pooled per (name, dtype) and grown geometrically. Nothing
    returned to callers may alias the pool."""

    _pool: dict[str, np.ndarray] = {}

    @classmethod
    def get(cls, key: str, shape, dtype) -> np.ndarray:
        size = int(np.prod(shape))
        buf = cls._pool.get(key)
        if buf is None or buf.size < size or buf.dtype != np.dtype(dtype):
            buf = np.empty(size + size // 4 + 16, dtype=dtype)
            cls._pool[key] = buf
        return buf[:size].reshape(shape)


def _build(codes: np.ndarray, snap_max: int) -> tuple[np.ndarray, list]:
    """Prefix-doubling suffix array — each round one ``np.lexsort`` over
    (rank, rank-shifted-by-k), vectorized end-to-end, O(n log² n).
    All working arrays are int32 (ranks < n < 2³¹; byte codes + sentinels
    fit easily), halving the round-4 int64 footprint, and come from the
    reusable scratch pool (fresh-allocation first-touch would otherwise
    dominate the build).

    Returns ``(sa, snapshots)`` where snapshots are ``(L, rank_L)`` pairs
    for every prefix length L that is a power of two with
    ``_RES <= L <= snap_max`` — the rank history the capped-LCP greedy
    consumes (pass ``snap_max=0`` to skip snapshotting). Each snapshot is
    a fresh (non-pooled) copy padded with one trailing ``-1`` slot so the
    greedy can gather at offset ``n`` (the one-suffix-is-a-prefix edge)
    without bounds masks."""
    n = len(codes)
    if n == 0:
        return np.empty(0, dtype=np.int32), []
    rank = _Scratch.get("bld.rank", n, np.int32)
    np.copyto(rank, codes, casting="unsafe")
    snaps: list[tuple[int, np.ndarray]] = []
    tmp = _Scratch.get("bld.tmp", n, np.int32)
    second = _Scratch.get("bld.second", n, np.int32)
    diff = _Scratch.get("bld.diff", n, np.int32)
    r_ord = _Scratch.get("bld.r_ord", n, np.int32)
    s_ord = _Scratch.get("bld.s_ord", n, np.int32)
    k = 1
    while True:
        second[n - k :] = -1
        second[: n - k] = rank[k:]
        sa = np.lexsort((second, rank)).astype(np.int32)
        np.take(rank, sa, out=r_ord)
        np.take(second, sa, out=s_ord)
        diff[0] = 0
        np.cumsum(
            (r_ord[1:] != r_ord[:-1]) | (s_ord[1:] != s_ord[:-1]),
            dtype=np.int32,
            out=diff[1:],
        )
        tmp[sa] = diff
        rank, tmp = tmp, rank
        if _RES <= 2 * k <= snap_max:
            padded = np.empty(n + 1, dtype=np.int32)
            padded[:n] = rank
            padded[n] = -1
            snaps.append((2 * k, padded))
        if rank[sa[-1]] == n - 1:
            return sa, snaps
        k <<= 1


def build_suffix_array(codes: np.ndarray) -> np.ndarray:
    """Suffix array of an int sequence (int32 result); see ``_build``."""
    return _build(codes, snap_max=0)[0]


def lcp_kasai(codes: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: ``lcp[i] = LCP(suffix sa[i-1], suffix sa[i])``; O(n) but
    a per-character Python loop — kept as the exact-LCP *test oracle*; the
    production path is ``lcp_adjacent_capped`` (vectorized)."""
    n = len(sa)
    lcp = np.zeros(n, dtype=np.int64)
    if n < 2:
        return lcp
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    h = 0
    for i in range(n):
        r = rank[i]
        if r == 0:
            h = 0
            continue
        j = sa[r - 1]
        while i + h < n and j + h < n and codes[i + h] == codes[j + h]:
            h += 1
        lcp[r] = h
        if h:
            h -= 1
    return lcp


def lcp_adjacent_capped(
    codes: np.ndarray, sa: np.ndarray, snaps: list, cap: int
) -> np.ndarray:
    """``min(LCP(sa[i-1], sa[i]), cap)`` for every adjacent suffix pair,
    fully vectorized (same alignment as ``lcp_kasai``: entry 0 is 0).

    Descending greedy over the power-of-two rank snapshots: rank_L
    equality at offset h means the L-prefixes match (prefix-doubling ranks
    pad short suffixes with -1, so a shorter suffix never rank-ties a
    longer one, and the snapshot's own -1 pad slot never ties a real
    rank), so h advances by the largest snapshot lengths first — after
    the greedy, h = _RES·⌊min(lcp, 2P-1)/_RES⌋ for the largest stored
    power P, and one chunked _RES-wide block compare of the raw codes
    resolves the residue exactly. With P the largest power of two <= cap,
    2P-1+_RES-1 >= cap, so the clamp at ``cap`` is exact. All temporaries
    come from the scratch pool in bounded chunks (see _Scratch)."""
    n = len(sa)
    out = np.zeros(n, dtype=np.int32)
    if n < 2 or cap <= 0:
        return out
    n_pairs = n - 1
    i = sa[:-1]  # int32 views, no copy
    j = sa[1:]
    h = _Scratch.get("lcp.h", n_pairs, np.int32)
    h.fill(0)
    ih = _Scratch.get("lcp.ih", n_pairs, np.int32)
    jh = _Scratch.get("lcp.jh", n_pairs, np.int32)
    ra = _Scratch.get("lcp.ra", n_pairs, np.int32)
    rb = _Scratch.get("lcp.rb", n_pairs, np.int32)
    ok = _Scratch.get("lcp.ok", n_pairs, bool)
    for L, r in sorted(snaps, key=lambda t: -t[0]):
        # r is the padded (n+1) snapshot; i+h <= n always (h <= lcp <=
        # suffix length), so gathers need no bounds mask
        np.add(i, h, out=ih)
        np.add(j, h, out=jh)
        np.take(r, ih, out=ra)
        np.take(r, jh, out=rb)
        np.equal(ra, rb, out=ok)
        np.add(h, np.int32(L), out=ih)  # reuse ih as h+L
        np.copyto(h, ih, where=ok)
    # residue: compare up to _RES raw codes at the current offset, in
    # bounded chunks. codes are padded with _RES DISTINCT negatives so
    # out-of-range gathers never match anything (two pads only compare
    # equal at the same index, impossible for a pair's two gathers).
    cpad = _Scratch.get("lcp.cpad", n + _RES, np.int32)
    np.copyto(cpad[:n], codes, casting="unsafe")
    cpad[n:] = -np.arange(1, _RES + 1, dtype=np.int32)
    off = np.arange(_RES, dtype=np.int32)
    C = 1 << 16
    g = _Scratch.get("lcp.g", (C, _RES), np.int32)
    ga = _Scratch.get("lcp.ga", (C, _RES), np.int32)
    gb = _Scratch.get("lcp.gb", (C, _RES), np.int32)
    eq = _Scratch.get("lcp.eq", (C, _RES), bool)
    alltrue = _Scratch.get("lcp.all", C, bool)
    arg = _Scratch.get("lcp.arg", C, np.intp)
    for s in range(0, n_pairs, C):
        e = min(s + C, n_pairs)
        m = e - s
        np.add(i[s:e, None], off, out=g[:m])
        np.add(g[:m], h[s:e, None], out=g[:m])
        np.take(cpad, g[:m], out=ga[:m])
        np.add(j[s:e, None], off, out=g[:m])
        np.add(g[:m], h[s:e, None], out=g[:m])
        np.take(cpad, g[:m], out=gb[:m])
        np.equal(ga[:m], gb[:m], out=eq[:m])
        eq[:m].all(axis=1, out=alltrue[:m])
        np.argmin(eq[:m], axis=1, out=arg[:m])
        h[s:e] += np.where(alltrue[:m], _RES, arg[:m]).astype(np.int32)
    np.minimum(h, np.int32(cap), out=h)
    out[1:] = h
    return out


def _snap_max(cap: int) -> int:
    """Largest power of two <= cap (snapshot budget for the greedy)."""
    return 1 << max(cap, 1).bit_length() - 1


def _group_pairs(
    urls: list[str], texts: list[str], min_len: int, max_block_docs: int
) -> set[tuple[str, str]]:
    """Candidate pairs within one group: concatenate the texts with
    per-boundary DISTINCT sentinels (no common substring can cross a
    boundary), build the generalized suffix array + capped LCP, and walk
    the maximal runs of consecutive suffixes with LCP >= min_len — every
    pair of documents sharing a >=min_len substring has both its suffixes
    inside one such run, so emitting the run's distinct-doc pairs is
    exhaustive (and conversely any two suffixes inside a run share a
    >=min_len prefix, so every emitted pair IS a true >=min_len substring
    duplicate — no separate confirmation required for membership). Runs
    touching more than ``max_block_docs`` documents fall back to star
    edges against the smallest url (quadratic-emit guard: connectivity
    preserved for clustering, pair exhaustiveness bounded)."""
    arrays, doc_of = [], []
    for i, t in enumerate(texts):
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int32)
        arrays.append(np.concatenate([b, np.array([256 + i], dtype=np.int32)]))
        doc_of.append(np.full(len(b) + 1, i, dtype=np.int32))
    codes = np.concatenate(arrays)
    doc_of = np.concatenate(doc_of)
    sa, snaps = _build(codes, snap_max=_snap_max(min_len))
    # the walk only thresholds at min_len, so min(lcp, min_len) suffices —
    # computed vectorized from the rank history (exact spans come from the
    # per-pair suffix-automaton verify afterwards)
    lcp = lcp_adjacent_capped(codes, sa, snaps, cap=min_len)

    pairs: set[tuple[str, str]] = set()
    ge = lcp >= min_len  # ge[i] ⇔ suffixes sa[i-1], sa[i] share >= min_len
    idx = np.flatnonzero(ge)
    if idx.size == 0:
        return pairs
    # maximal runs of consecutive qualifying positions (vectorized split;
    # the round-4 walk stepped a Python loop over every suffix)
    breaks = np.flatnonzero(np.diff(idx) > 1) + 1
    for run in np.split(idx, breaks):
        lo, hi = int(run[0]) - 1, int(run[-1])  # suffixes sa[lo..hi]
        run_docs = np.unique(doc_of[sa[lo : hi + 1]])
        if len(run_docs) < 2:
            continue
        members = sorted(urls[int(d)] for d in run_docs)
        if len(members) > max_block_docs:
            pairs.update((members[0], m) for m in members[1:])
        else:
            pairs.update(
                (a, b) for ai, a in enumerate(members) for b in members[ai + 1 :]
            )
    return pairs


def _capped_group_docs(
    docs: DataFrame,
    group_col,
    max_docs_per_group: int,
    max_chars_per_group: int,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic pre-shuffle group cap: rank (group, url) rows — url +
    text length only, text itself never enters this window — and keep the
    url-ordered prefix of each group that fits both the doc and the char
    budget. Groups left with fewer than 2 kept docs are excluded entirely
    (they cannot emit a pair), so the long tail of single-doc hosts in a
    web corpus never ships its text into the group shuffle or pays an
    applyInPandas invocation — on the sf0.1 planted corpus (5,000
    singleton families, 100 triples) this is a 6× wall win (17.8 → 3.1 s).
    Returns ``(capped_docs, dropped)`` where dropped is the 1-row
    counted-drops frame (same contract as bucket_join.bucket_pairs);
    singleton exclusions are not drops — nothing representable was lost."""
    base = docs.select("url", "text", group_col.alias("_grp"))
    w = Window.partitionBy("_grp").orderBy("url")
    ranked = (
        base.select(
            "url", "_grp", F.coalesce(F.length("text"), F.lit(0)).alias("_len")
        )
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_cum", F.sum("_len").over(w))
    )
    keep = (F.col("_rn") <= max_docs_per_group) & (
        F.col("_cum") <= max_chars_per_group
    )
    dropped = ranked.select(
        F.coalesce(
            F.sum(F.when(keep, 0).otherwise(1)), F.lit(0)
        ).alias("dropped_bucket_members")
    )
    pairable = (
        ranked.where(keep)
        .withColumn("_n", F.count("*").over(Window.partitionBy("_grp")))
        .where(F.col("_n") >= 2)
    )
    capped = base.join(pairable.select("url"), "url", "left_semi")
    return capped, dropped


def _pairs_frames(
    docs: DataFrame,
    group_col,
    min_len: int,
    max_docs_per_group: int,
    max_block_docs: int,
    max_chars_per_group: int,
    n_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    capped, dropped = _capped_group_docs(
        docs, group_col, max_docs_per_group, max_chars_per_group
    )
    if n_partitions is not None:
        # explicit keyed repartition replacing the implicit conf-width
        # grouping exchange: the singleton exclusion above means the
        # pairable group set can be orders of magnitude smaller than the
        # input, and the per-group pandas walk pays a fixed Arrow/worker
        # dispatch per non-empty partition — measured 2.75 s at the
        # session width vs 0.96 s at defaultParallelism on the sf0.1
        # planted families (r7). The groupBy reuses this partitioning, so
        # no second exchange is inserted. None (the pipeline default)
        # keeps the session-width shape for corpus-scale group counts.
        capped = capped.repartition(n_partitions, "_grp")

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        urls = pdf["url"].tolist()
        texts = ["" if t is None else str(t) for t in pdf["text"].tolist()]
        if len(urls) < 2:
            return pd.DataFrame(columns=["url_a", "url_b", "lcs_len"])
        by_url = dict(zip(urls, texts))
        rows = [
            (a, b, longest_common_substring_len(by_url[a], by_url[b]))
            for a, b in sorted(_group_pairs(urls, texts, min_len, max_block_docs))
        ]
        out = pd.DataFrame(rows, columns=["url_a", "url_b", "lcs_len"])
        return out[out["lcs_len"] >= min_len]

    pairs = capped.groupBy("_grp").applyInPandas(per_group, schema=PAIRS_SCHEMA)
    return pairs, dropped


def suffix_array_pairs(
    docs: DataFrame,
    group_col,
    min_len: int = 64,
    max_docs_per_group: int = 4096,
    max_block_docs: int = 32,
    max_chars_per_group: int = 8_000_000,
    n_partitions: int | None = None,
) -> DataFrame:
    """``docs(url, text, ...)`` grouped by ``group_col`` →
    ``(url_a, url_b, lcs_len)``: every intra-group pair with a verbatim
    common substring of at least ``min_len`` chars, with the EXACT longest
    common substring length (suffix-automaton verify per emitted pair —
    the candidate walk guarantees a >=min_len lower bound; the verify
    upgrades it to the exact value).

    ``group_col`` is any Column (e.g. ``F.col("source")`` or
    ``F.parse_url("url", lit("HOST"))``); one shuffle on it, then each
    group is an independent applyInPandas task. Groups are capped BEFORE
    that shuffle, deterministically in url order, at both
    ``max_docs_per_group`` documents and ``max_chars_per_group``
    characters (see ``_capped_group_docs``)."""
    pairs, _ = _pairs_frames(
        docs, group_col, min_len, max_docs_per_group, max_block_docs,
        max_chars_per_group, n_partitions,
    )
    return pairs


def suffix_array_candidates(rep_docs: DataFrame, cfg) -> tuple[DataFrame, DataFrame]:
    """Pipeline candidate source → ``(pairs, dropped)``: groups
    ``rep_docs(url, text)`` by ``cfg.suffix_group_expr`` and emits
    ``(url_a, url_b, lcs_hint)`` — the hint is the operator's exact LCS
    length, so verify can trust it directly instead of re-deriving the
    span (the suffix-array walk already *proves* a >= substring_min_len
    common substring; see _group_pairs) — plus the one-row
    ``dropped_bucket_members`` count of docs the group caps left out."""
    pairs, dropped = _pairs_frames(
        rep_docs,
        F.expr(cfg.suffix_group_expr),
        min_len=cfg.substring_min_len,
        max_docs_per_group=cfg.suffix_max_docs_per_group,
        max_block_docs=32,
        max_chars_per_group=cfg.suffix_max_chars_per_group,
    )
    return pairs.select("url_a", "url_b", F.col("lcs_len").alias("lcs_hint")), dropped
