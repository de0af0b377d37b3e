"""Frozen pipeline configuration.

Defaults mirror the reference's knobs where one exists:
- ``jaccard_threshold=0.8`` ≙ the reference's default similarity threshold
  (/root/reference/src/core/scanner.py:20, GUI range 0.5–1.0 at
  /root/reference/src/gui/main_window.py:57-58).
- 128 permutations split into 16 bands × 8 rows is the principled
  generalization of the reference's md5[:8] exact-signature bucketing
  (/root/reference/src/core/comparator.py:52-63): the band S-curve puts the
  50%-collision point near Jaccard (1/16)^(1/8) ≈ 0.71, i.e. pairs at the
  0.8 verification threshold collide in ≥1 band with p ≈ 0.95+ and the
  exact-duplicate groups the reference actually finds collide with p = 1.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from hashlib import blake2b


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / MinHash (signature stage, SURVEY O2) ---
    shingle_k: int = 5              # words per shingle
    num_perm: int = 128             # MinHash permutations
    bands: int = 16                 # LSH bands (b)
    rows_per_band: int = 8          # rows per band (r); b*r == num_perm
    jaccard_threshold: float = 0.8  # verification threshold (SURVEY O8)

    # --- SimHash (secondary candidate source) ---
    simhash_bits: int = 64
    simhash_hamming_max: int = 3    # pairs kept if popcount(xor) <= this
    simhash_chunks: int = 4         # pigeonhole chunks; guarantees recall
                                    # for hamming <= simhash_chunks - 1

    # --- substring pass (content-defined-chunk fingerprints) ---
    substring_min_len: int = 500    # verbatim span length that must be caught
    cdc_window: int = 48            # rolling-hash window (chars)
    cdc_mask_bits: int = 6          # anchor if low bits == 0 → E[chunk] = 64
    cdc_min_chunk: int = 24         # drop chunks shorter than this

    # --- candidate-source selection (pipeline DAG) ---
    # "suffix" is the corpus-wide CDC-fingerprint substring source (tag kept
    # from the original DAG); "suffix_array" is the per-group generalized
    # suffix-array pass (operators/suffix_array.py) — opt-in because its
    # recall is scoped to the group key, and enabling it unions a 4th pair
    # source into the same verify → CC tail (SURVEY §7 step 8)
    candidate_sources: tuple = ("minhash", "simhash", "suffix")
    suffix_group_expr: str = "parse_url(url, 'HOST')"  # SQL expr, group key
    suffix_max_docs_per_group: int = 4096   # pre-shuffle doc cap (counted)
    suffix_max_chars_per_group: int = 8_000_000  # pre-shuffle char cap
                                    # (~35 B/char task peak; see operator doc)

    # --- skew handling (SURVEY §4: reference has none) ---
    max_bucket_size: int = 256      # LSH buckets larger than this are capped
                                    # (exact dups are collapsed upstream, so
                                    # an over-cap bucket is a hash-skew trap,
                                    # not lost recall; drops are counted)
    skew_salt_threshold: int = 65536  # buckets larger than this are ranked
                                    # per (key, salt) so no single task sorts
                                    # a mega-bucket — the north rule's salted
                                    # repartitioning (bucket_join docstring)
    skew_n_salts: int = 16          # salt fan-out for hot-bucket ranking

    # --- determinism ---
    seed: int = 42

    KNOWN_SOURCES = ("minhash", "simhash", "suffix", "suffix_array")

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError("bands * rows_per_band must equal num_perm")
        if not self.candidate_sources:
            raise ValueError("candidate_sources must name at least one source")
        unknown = set(self.candidate_sources) - set(self.KNOWN_SOURCES)
        if unknown:
            raise ValueError(f"unknown candidate sources: {sorted(unknown)}")

    def config_hash(self) -> str:
        """Stable fingerprint used to invalidate stage checkpoints."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return blake2b(payload, digest_size=8).hexdigest()
