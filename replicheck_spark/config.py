"""Job configuration.

Mirrors the reference CLI defaults (``/root/reference/main.py:24-34``:
``min_similarity=0.8``, ``min_size=50``) and the validation semantics of the
reference's (otherwise unused) Config dataclass
(``/root/reference/replicheck/config.py:31-32``: threshold must lie in [0, 1]).

LSH banding (bands x rows = num_perm) is chosen for the recall target, not
copied from anywhere: with ``rows`` hash rows per band the probability that a
pair with Jaccard ``s`` collides in at least one band is ``1-(1-s^rows)^bands``.
For recall >= 0.99 at s = 0.8 we need rows small: rows=4, bands=32 gives
1-(1-0.8^4)^32 ~ 1 - 5e-8. (bands=16/rows=8 would only catch ~65% at s=0.8.)
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class DedupConfig:
    # similarity semantics (reference defaults, main.py:24-34)
    min_similarity: float = 0.8      # Jaccard confirm threshold over k-shingles
    min_size: int = 50               # min tokens per doc (Duplication.py:38-39)

    # signature config
    shingle_k: int = 5               # tokens per shingle
    num_perm: int = 128              # MinHash permutations
    lsh_bands: int = 32              # bands * rows == num_perm
    lsh_rows: int = 4
    simhash_bits: int = 64
    hamming_max: int = 3             # SimHash near-dup Hamming radius

    # substring (identical-block analog) config
    substr_min_tokens: int = 50      # min verbatim shared token run
    substr_anchors_expected: int = 8  # expected anchors per qualifying run:
    # anchor modulus q = (L-k+1)//this, so 1/q of corpus shingles enter the
    # anchor index (miss prob ~ e^-this); lower = sparser index, less recall

    # skew / scale guards
    bucket_cap: int = 512            # max docs per LSH bucket for all-pairs
    salt_buckets: int = 8            # salting factor for the band shuffle

    # determinism
    seed: int = 42

    # runtime
    shuffle_partitions: int = 32
    max_records_per_batch: int = 4096

    def __post_init__(self) -> None:
        if not (0.0 <= self.min_similarity <= 1.0):
            raise ValueError(
                f"min_similarity must be in [0, 1], got {self.min_similarity}"
            )
        if self.min_size < 0:
            raise ValueError(f"min_size must be >= 0, got {self.min_size}")
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )
        if self.shingle_k < 1:
            raise ValueError(f"shingle_k must be >= 1, got {self.shingle_k}")
        if self.substr_anchors_expected < 1:
            raise ValueError(
                "substr_anchors_expected must be >= 1, got "
                f"{self.substr_anchors_expected}"
            )

    def anchor_modulus(self) -> int:
        """Substring anchor sampling modulus q: a shingle is an anchor iff
        its 64-bit hash ≡ 0 (mod q), giving ~substr_anchors_expected anchors
        per qualifying run of substr_min_tokens tokens. Computed here because
        BOTH the signature UDF (which materializes the 64-bit anchor subset)
        and anchor_pairs' legacy fallback (which filters stored shingle
        arrays) must use the identical q."""
        need = self.substr_min_tokens - self.shingle_k + 1
        return max(1, need // self.substr_anchors_expected)

    def to_dict(self) -> dict:
        return asdict(self)
