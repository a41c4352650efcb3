"""Pipeline configuration.

Defaults mirror the reference CLI defaults
(`/root/reference/CPPDeduper/CPPDeduper.cpp:336-364`): Jaccard threshold
0.7, N=256 sketch hashes, 64 bands × 4 values/band, 64-bit keys, XXH64
seed 0, shingle width K=5 (`CPPDeduper.cpp:20`).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class DedupeConfig:
    # sketch semantics (SURVEY.md §2.1)
    shingle_k: int = 5
    num_hashes: int = 256
    bands: int = 64
    seed: int = 0
    threshold: float = 0.7
    hash_bits: int = 64  # 64 = XXH64 (default); 32 = reference `-s 32` FNV mode
    # band key function: "content" (deterministic hash of band content,
    # canonical) or "rbs" (emulation of the reference's random-bit-sampling
    # default, fixed-seed — see functions/bands.py)
    band_key_mode: str = "content"
    rbs_seed: int = 1234

    # input binding
    id_col: str = "doc_id"          # stable row identity (long); for `pages`
    text_col: str = "text"          # the one analyzed column
    order_col: str | None = None    # keep-first tiebreak (e.g. warc_ts); None -> id_col

    # scale knobs
    # bucket size above which a bucket is "hot" (operators/pairs.py; each
    # topology has one detector, operators.pairs.hot_buckets). Under
    # all_pairs, hot buckets switch from exact all-pairs to capped
    # all-pairs + star, sized by an exact aggregation: 256 bounds a hot
    # bucket at ~32k scored pairs; recall is protected by the 64-band
    # redundancy (a true near-dup pair collides in many buckets). Under
    # chain_star the same value is the salting threshold, compared with a
    # 2% sample estimate of the bucket size, AND the target sub-bucket
    # size for over-cap windows (nothing is dropped there — the cap only
    # bounds the per-task window partition)
    hot_band_cap: int = 256
    # candidate topology within a bucket (operators/pairs.py):
    #   "chain_star" — each doc pairs with its id-order predecessor and the
    #                  bucket min; O(h) pairs per bucket. DEFAULT: measured
    #                  F1 on the labeled harness is HIGHER than all_pairs
    #                  (0.9994/0.9922/0.9909 vs 0.9982/0.9883/0.9885 across
    #                  seeds 42/7/99 at 5k docs: recall −1 pair, precision
    #                  up because fewer sub-threshold transitive merges) at
    #                  ~30× fewer scored pairs (BENCH/BASELINE.md) on
    #                  dense-duplicate corpora.
    #   "all_pairs"  — every co-bucketed pair (≤ hot_band_cap) is scored;
    #                  maximal pairwise recall, O(h²) pairs per bucket.
    pair_topology: str = "chain_star"
    cc_max_iterations: int = 20         # large-star/small-star safety bound

    @property
    def band_size(self) -> int:
        return self.num_hashes // self.bands

    def validate(self) -> None:
        if self.num_hashes % self.bands:
            raise ValueError(
                f"bands ({self.bands}) must evenly divide num_hashes "
                f"({self.num_hashes})"  # reference crashes here: LSHBandHashMap.h:261-269
            )
        if not (0.0 < self.threshold <= 1.0):
            raise ValueError("threshold must be in (0, 1]")
        if self.hash_bits not in (32, 64):
            raise ValueError("hash_bits must be 32 or 64")
        if self.band_key_mode not in ("content", "rbs"):
            raise ValueError("band_key_mode must be 'content' or 'rbs'")
        if self.pair_topology not in ("all_pairs", "chain_star"):
            raise ValueError("pair_topology must be 'all_pairs' or 'chain_star'")
    def fingerprint(self) -> str:
        """Stable hash of the semantics-bearing fields, used by the stage
        checkpoint manifest to decide whether a cached stage is reusable."""
        sem = json.dumps(asdict(self), sort_keys=True)
        return hashlib.sha256(sem.encode()).hexdigest()[:16]


DEFAULT_CONFIG = DedupeConfig()
