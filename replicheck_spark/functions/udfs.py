"""Vectorized pandas UDFs — the ONLY Python that runs on the data plane.

Every UDF receives Arrow batches, flattens to numpy, and defers to the shared
core (`textnorm`, `hashing`, `minhash`). No per-row Python UDFs exist anywhere
in this engine (BASELINE.json north_rule); everything else is JVM-side
built-ins. The extraction UDF applies literally the same function the oracle
applies, so per-url extraction is byte-identical by construction.

Reference parity: these are the analog of the reference's pluggable analyzers
(/root/reference/replicheck/runner.py:128-140) — but batched, columnar, and
side-effect free.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from replicheck_spark.functions import hashing
from replicheck_spark.functions import minhash as mh
from replicheck_spark.functions.textnorm import extract_text, normalize_text, tokenize


@pandas_udf(T.StringType())
def _extract_normalize(html: pd.Series, text: pd.Series) -> pd.Series:
    """(html binary, text string) -> normalized extracted text.

    Same code path as the oracle: extract_text -> normalize_text.
    """
    out = [
        normalize_text(extract_text(h, t))
        for h, t in zip(html.tolist(), text.tolist())
    ]
    return pd.Series(out, dtype="object")


# asNondeterministic: semantically deterministic, but the flag stops Catalyst's
# CollapseProject from inlining the UDF into every downstream column that
# references it (n_tokens + sha256 + ... would each re-run the extraction —
# measured 3-4x UDF cost before this flag).
extract_normalize = _extract_normalize.asNondeterministic()


def signature_schema() -> T.StructType:
    # shingles ARE materialized as hash arrays: the downstream Jaccard
    # confirm is then a JVM array_intersect (measured ~20x faster than
    # rebuilding string shingles with interpreted higher-order expressions at
    # confirm time). Stored as the LOW 32 BITS of the 64-bit shingle hash:
    # equality tests are all any consumer does (Jaccard intersect, substring
    # anchor mod-q sampling), and the column dominates signature volume
    # (measured 86% of the stage's parquet bytes at int64) — truncation
    # halves the widest column through Arrow, checkpoint and the confirm
    # shuffle. Collision cost: a collision between a shingle of A and a
    # different shingle of B grows the intersection (J up); a collision
    # between two SHARED shingles shrinks intersection and union together
    # ((i-1)/(u-1) < i/u, J down). Either way the perturbation is
    # O(|A||B|/2^32) ~ 1e-4 for kilotoken docs, and only a pair sitting
    # within that distance of the threshold can flip — probability
    # ~C(i,2)/2^32 per pair, immaterial to the 0.99 recall target (keep
    # planted fixtures clear of the exact threshold). MinHash/SimHash/bands
    # still consume the full 64-bit hashes inside the UDF.
    #
    # anchors (the ≡0 mod q subset used by the substring stage) stay 64-BIT:
    # unlike the per-pair Jaccard set ops, anchors are GLOBAL groupBy keys —
    # at 10^12 docs a 2^32 key space would merge ~25+ unrelated shingle
    # values per bucket, inflating anchor buckets quadratically and evicting
    # real members at bucket_cap (recall loss). Band keys stay 64-bit for
    # the same reason. Only ~1/q of shingles are anchors, so the extra
    # column costs ~q-times less than the 4 bytes/shingle the truncation
    # saves.
    #
    # The raw 128-perm minhash matrix is NOT shipped: bands are derived from
    # it inside the UDF and nothing downstream reads the raw values — at 1 KB
    # per doc the column was ~30% of the signature stage's Arrow + parquet
    # volume (1 PB of dead weight at 10^12 docs).
    return T.StructType(
        [
            T.StructField("shingles", T.ArrayType(T.IntegerType()), False),
            T.StructField("anchors", T.ArrayType(T.LongType()), False),
            T.StructField("simhash", T.LongType(), False),
            T.StructField("bands", T.ArrayType(T.LongType()), False),
        ]
    )


def make_signature_udf(
    shingle_k: int, num_perm: int, bands: int, rows: int, seed: int,
    anchor_q: int = 0,
):
    """Build the one-pass signature UDF: norm_text -> (shingles, anchors,
    simhash, band hashes).

    One tokenize + one flattened-batch numpy pass per Arrow batch. Coefficients
    are derived from the seed at closure-build time on the driver and shipped
    in the closure — every executor uses the identical matrix (no runtime RNG).
    uint64 values are reinterpreted as signed int64 for Spark LongType (bit
    pattern preserved; downstream comparisons only ever test equality).

    ``anchor_q``: substring anchor modulus (``DedupConfig.anchor_modulus()``);
    shingles whose SIGNED-int64 value ≡ 0 (mod q, floored — identical to
    Spark's ``pmod``) are materialized 64-bit in ``anchors``. The default 0
    means "caller never runs the substring stage": anchors are emitted EMPTY
    rather than as a full 64-bit shingle copy (anchor_q=1 would select every
    shingle — 1.5x the pre-split Arrow volume for operators that then drop
    the column).
    """
    coeffs = mh.make_coeffs(num_perm, seed)

    @pandas_udf(signature_schema())
    def signature(norm_text: pd.Series) -> pd.DataFrame:
        token_lists = [tokenize(t) if t else [] for t in norm_text.tolist()]
        flat_tok, tok_off = hashing.hash_token_lists(token_lists)
        flat_sh, sh_off = hashing.shingle_hashes_flat(flat_tok, tok_off, shingle_k)
        m = mh.minhash_flat(flat_sh, sh_off, coeffs)        # (n, num_perm) uint64
        s = mh.simhash_flat(flat_sh, sh_off)                # (n,) uint64
        b = mh.band_hashes(m, bands, rows)                  # (n, bands) uint64
        b64 = b.astype(np.int64)
        s64 = s.astype(np.int64)
        # low 32 bits, bit-pattern-preserving signed view (IntegerType)
        sh32 = flat_sh.astype(np.uint32).view(np.int32)
        sh64 = flat_sh.view(np.int64)
        # numpy's % is floored like Spark's pmod, so this selection is
        # bit-identical to the legacy F.pmod(shingle, q) == 0 filter
        if anchor_q > 0:
            is_anchor = (sh64 % anchor_q) == 0
        else:
            is_anchor = np.zeros(len(sh64), dtype=bool)
        n = len(token_lists)
        return pd.DataFrame(
            {
                "shingles": [
                    sh32[sh_off[i] : sh_off[i + 1]] for i in range(n)
                ],
                "anchors": [
                    sh64[sh_off[i] : sh_off[i + 1]][
                        is_anchor[sh_off[i] : sh_off[i + 1]]
                    ]
                    for i in range(n)
                ],
                "simhash": s64.tolist(),
                "bands": [b64[i] for i in range(n)],
            }
        )

    # nondeterministic flag: struct-field extraction (sig.shingles,
    # sig.minhash, ...) would otherwise re-evaluate the whole UDF once PER
    # FIELD after projection collapse (measured 4x cost).
    return signature.asNondeterministic()


def make_anchor_hash_udf(shingle_k: int, anchor_q: int):
    """Lean signature for stages that only need the 64-bit substring-anchor
    subset (shingle hashes ≡ 0 mod ``anchor_q``) — skips the
    MinHash/SimHash/band work of make_signature_udf. Anchors stay 64-bit:
    they are global groupBy keys (see signature_schema).

    Unlike make_signature_udf, anchor_q=0 is NOT a valid "disabled" value
    here — this UDF exists solely to produce anchors, and numpy's mod-by-zero
    would silently return 0 (marking EVERY shingle an anchor) instead of
    erroring."""
    if anchor_q < 1:
        raise ValueError(f"anchor_q must be >= 1, got {anchor_q}")

    @pandas_udf(T.ArrayType(T.LongType()))
    def anchors(text: pd.Series) -> pd.Series:
        token_lists = [tokenize(t) if t else [] for t in text.tolist()]
        flat_tok, tok_off = hashing.hash_token_lists(token_lists)
        flat_sh, sh_off = hashing.shingle_hashes_flat(flat_tok, tok_off, shingle_k)
        sh64 = flat_sh.view(np.int64)
        is_anchor = (sh64 % anchor_q) == 0
        return pd.Series(
            [
                sh64[sh_off[i] : sh_off[i + 1]][
                    is_anchor[sh_off[i] : sh_off[i + 1]]
                ]
                for i in range(len(token_lists))
            ]
        )

    return anchors.asNondeterministic()


def hamming64_col(a, b):
    """JVM-side Hamming distance between two int64 SimHash columns."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))
