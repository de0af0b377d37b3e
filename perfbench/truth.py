"""Independent duplicate truth for the benchmark's output checks.

Same semantics as the engine's single-node oracle (word 5-shingle
Jaccard >= 0.8, or a verbatim span of at least 500 characters), computed
here with NumPy and no engine code, so the check cannot inherit an engine
bug. Candidate pairs are the pairs that share at least one shingle;
that set contains every true pair, because both rules imply a shared
shingle. Each candidate is then decided exactly:

- Jaccard over exact shingle sets. A shingle is its k token ids packed
  into one int64 (``TOKEN_BITS`` bits each), so two shingles are equal
  iff their codes are equal: no hashing, no collisions.
- The longest common substring from the common token runs. A common
  character span of >= ``min_span`` characters covers at least
  ``k`` whole tokens (checked against the longest token seen), so it is
  a maximal run of shared shingles on one diagonal, widened by the
  common suffix/prefix of the tokens just outside the run.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np

TOKEN_BITS = 12


class DupTruth:
    """Token dictionary and per-text shingle arrays shared by one run."""

    def __init__(self, k: int = 5, threshold: float = 0.8, min_span: int = 500):
        if k * TOKEN_BITS > 63:
            raise ValueError("k shingle tokens must pack into one int64")
        self.k = k
        self.threshold = threshold
        self.min_span = min_span
        self._ids: dict[str, int] = {}
        self._max_tok = 0
        self._memo: dict[str, tuple] = {}

    # -- per-text arrays -----------------------------------------------------
    def _profile(self, text: str) -> tuple:
        """(tokens, token ids, positional shingle codes, unique codes)."""
        hit = self._memo.get(text)
        if hit is not None:
            return hit
        toks = text.split(" ")
        ids = np.empty(len(toks), dtype=np.int64)
        for i, t in enumerate(toks):
            v = self._ids.get(t)
            if v is None:
                v = self._ids[t] = len(self._ids)
                if v >= 1 << TOKEN_BITS:
                    raise ValueError("vocabulary exceeds the exact shingle packing")
                self._max_tok = max(self._max_tok, len(t))
            ids[i] = v
        k = self.k
        if len(ids) < k:
            # a short text is one shingle of all its tokens; the length tag
            # in the spare top bits keeps it apart from every k-token code
            pos = np.array([_pack(ids) | (len(ids) + 1) << 60], dtype=np.int64)
        else:
            pos = np.zeros(len(ids) - k + 1, dtype=np.int64)
            for j in range(k):
                pos = (pos << TOKEN_BITS) | ids[j : len(ids) - k + 1 + j]
        out = (toks, ids, pos, np.unique(pos))
        self._memo[text] = out
        return out

    def jaccard(self, a: str, b: str) -> float:
        sa, sb = self._profile(a)[3], self._profile(b)[3]
        inter = np.intersect1d(sa, sb, assume_unique=True).size
        union = sa.size + sb.size - inter
        return 1.0 if union == 0 else inter / union

    def lcs_at_least(self, a: str, b: str) -> bool:
        """Whether a and b share a verbatim span of >= min_span chars."""
        ta, _, pa, _ = self._profile(a)
        tb, _, pb, _ = self._profile(b)
        if (self.k + 2) * (self._max_tok + 1) >= self.min_span:
            raise ValueError("tokens too long for the run-based span check")
        common = np.intersect1d(pa, pb)
        if common.size == 0:
            return False
        ia = np.nonzero(np.isin(pa, common))[0]
        ib = np.nonzero(np.isin(pb, common))[0]
        # join positions on shingle code: (i, j) with pa[i] == pb[j]
        ob = ib[np.argsort(pb[ib], kind="stable")]
        codes_b = pb[ob]
        lo = np.searchsorted(codes_b, pa[ia], "left")
        hi = np.searchsorted(codes_b, pa[ia], "right")
        reps = hi - lo
        i_all = np.repeat(ia, reps)
        j_all = ob[np.concatenate([np.arange(l, h) for l, h in zip(lo, hi)])]
        diag = i_all - j_all
        order = np.lexsort((i_all, diag))
        i_s, d_s = i_all[order], diag[order]
        brk = np.ones(i_s.size, dtype=bool)
        brk[1:] = (d_s[1:] != d_s[:-1]) | (i_s[1:] != i_s[:-1] + 1)
        starts = np.nonzero(brk)[0]
        ends = np.append(starts[1:], i_s.size) - 1
        cum = np.concatenate([[0], np.cumsum([len(t) + 1 for t in ta])])
        k = self.k
        for s, e in zip(starts, ends):
            i0, i1 = int(i_s[s]), int(i_s[e]) + k - 1  # token run in a
            j0 = i0 - int(d_s[s])
            j1 = j0 + (i1 - i0)
            span = int(cum[i1 + 1] - cum[i0]) - 1
            if span + 2 * (self._max_tok + 1) < self.min_span:
                continue
            if i0 > 0 and j0 > 0:
                span += 1 + _common_suffix(ta[i0 - 1], tb[j0 - 1])
            if i1 + 1 < len(ta) and j1 + 1 < len(tb):
                span += 1 + _common_prefix(ta[i1 + 1], tb[j1 + 1])
            if span >= self.min_span:
                return True
        return False

    def is_dup(self, a: str, b: str) -> bool:
        return a == b or self.jaccard(a, b) >= self.threshold or self.lcs_at_least(a, b)

    # -- pair sets -----------------------------------------------------------
    def dup_pairs(
        self, query: dict[str, str], corpus: dict[str, str] | None = None
    ) -> set[tuple[str, str]]:
        """Every duplicate pair, as (min url, max url), between a query url
        and a corpus url or between two query urls. ``corpus=None``: all
        pairs within ``query``."""
        corpus = {u: t for u, t in (corpus or {}).items() if u not in query}
        # identical texts collapse to one representative; their group is
        # expanded again at the end
        groups: dict[str, list[tuple[str, bool]]] = {}
        for u, t in query.items():
            groups.setdefault(t, []).append((u, True))
        for u, t in corpus.items():
            groups.setdefault(t, []).append((u, False))
        texts = list(groups)
        has_q = np.array([any(q for _, q in groups[t]) for t in texts])
        out: set[tuple[str, str]] = set()

        def add(m1, m2):
            for (u, qu) in m1:
                for (v, qv) in m2:
                    if u != v and (qu or qv):
                        out.add((u, v) if u < v else (v, u))

        for t in texts:
            members = groups[t]
            if len(members) > 1:
                for x, y in combinations(members, 2):
                    add([x], [y])
        for ra, rb in _shared_shingle_pairs([self._profile(t)[3] for t in texts]):
            if not (has_q[ra] or has_q[rb]):
                continue
            if self.is_dup(texts[ra], texts[rb]):
                add(groups[texts[ra]], groups[texts[rb]])
        return out


def _pack(ids: np.ndarray) -> int:
    v = 0
    for x in ids:
        v = (v << TOKEN_BITS) | int(x)
    return v


def _common_suffix(x: str, y: str) -> int:
    n = 0
    while n < min(len(x), len(y)) and x[-1 - n] == y[-1 - n]:
        n += 1
    return n


def _common_prefix(x: str, y: str) -> int:
    n = 0
    while n < min(len(x), len(y)) and x[n] == y[n]:
        n += 1
    return n


def _shared_shingle_pairs(code_sets: list[np.ndarray]) -> set[tuple[int, int]]:
    """Index pairs (i < j) of sets sharing at least one code."""
    if not code_sets:
        return set()
    codes = np.concatenate(code_sets)
    owner = np.repeat(np.arange(len(code_sets)), [c.size for c in code_sets])
    order = np.lexsort((owner, codes))
    codes, owner = codes[order], owner[order]
    pairs = np.empty(0, dtype=np.int64)
    n = len(code_sets)
    d = 1
    while d < codes.size:
        same = codes[d:] == codes[:-d]
        if not same.any():
            break
        pairs = np.union1d(pairs, owner[:-d][same] * n + owner[d:][same])
        d += 1
    return {(int(p // n), int(p % n)) for p in pairs}


def cooccurrence_recall(
    truth: set[tuple[str, str]], cluster_of: dict[str, str]
) -> tuple[int, int]:
    """(truth pairs whose urls share a cluster, truth pairs)."""
    hit = sum(
        1
        for a, b in truth
        if a in cluster_of and cluster_of.get(a) == cluster_of.get(b)
    )
    return hit, len(truth)
