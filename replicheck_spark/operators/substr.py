"""Stage SUBSTR: long verbatim substring overlap — the web-scale analog of the
reference's identical-block detector (grouping whole token tuples,
/root/reference/replicheck/tools/Duplication/Duplication.py:40-41, generalized
to partial overlap between otherwise-different documents).

Candidate generation CANNOT reuse MinHash bands: a 60-token verbatim run inside
two 600-token documents gives overall Jaccard ~0.05, far below any LSH curve.
Instead, deterministic anchor sampling: a shared run of >= L tokens contains
>= L-k+1 consecutive k-shingles, so selecting shingles whose hash ≡ 0
(mod q) with q = max(1, (L-k+1)//8) leaves an expected >= 8 anchors inside any
qualifying run (miss probability ~ e^-8). Anchors explode -> hash-agg buckets
-> bounded intra-bucket pairs — the same salted/capped discipline as the LSH
stage, with capped-bucket counts surfaced for metrics.

Verification computes the exact longest common token run per candidate pair
with an O(n log n) binary search over rolling-hash window sets. This is the
one genuinely-custom operator Spark lacks, so it runs as ``mapInPandas``
(Arrow-batched; SURVEY.md §2.9 allows mapInArrow-class work here). Token
hashes are recomputed from norm_text only for the docs that appear in a
candidate pair — the signatures table never carries ordered token arrays.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from replicheck_spark.config import DedupConfig
from replicheck_spark.functions.hashing import MASK64, U64
from replicheck_spark.functions.textnorm import tokenize

_B = U64(0x100000001B3)


# _B is odd, hence invertible mod 2^64 — that is what lets the sequential
# recurrence below vectorize exactly.
_BINV = U64(pow(int(_B), -1, 1 << 64))


def _pow_accum(base: np.uint64, n: int) -> np.ndarray:
    """[base^0, base^1, ..., base^(n-1)] mod 2^64, one C-speed accumulate."""
    out = np.empty(n, dtype=np.uint64)
    out[0] = 1
    if n > 1:
        np.multiply.accumulate(
            np.full(n - 1, base, dtype=np.uint64), out=out[1:]
        )
    return out


def _prefix_hashes(hs: np.ndarray) -> np.ndarray:
    """Polynomial prefix hashes mod 2^64 (wraparound): pre[i] covers hs[:i].

    The recurrence acc_i = acc_{i-1}*B + hs[i] is linear, so it admits a
    closed vectorized form: pre[i+1] = B^i * sum_{j<=i}(hs[j] * B^-j), where
    B^-1 exists because B is odd. Three C-speed passes (two power
    accumulates, one cumsum) replace the per-token Python loop that was the
    verify stage's dominant cost — uint64 array ops wrap mod 2^64 natively,
    which is exactly the modulus we want.
    """
    n = len(hs)
    pre = np.empty(n + 1, dtype=np.uint64)
    pre[0] = 0
    if n == 0:
        return pre
    scaled = hs.astype(np.uint64, copy=False) * _pow_accum(_BINV, n)
    np.cumsum(scaled, out=pre[1:])
    pre[1:] *= _pow_accum(_B, n)
    return pre


@lru_cache(maxsize=4096)
def _pow_b(m: int) -> np.uint64:
    # called once per binary-search probe with m drawn from a small recurring
    # range (min_run..max doc tokens) — memoized, pow() is not free
    return U64(pow(int(_B), m, 1 << 64))


def _window_hashes(pre: np.ndarray, m: int) -> np.ndarray:
    """All m-length window hashes, one vectorized pass: h(i) = pre[i+m] -
    pre[i]*B^m (mod 2^64)."""
    n = len(pre) - 1
    if m > n:
        return np.empty(0, dtype=np.uint64)
    bm = _pow_b(m)
    return (pre[m:] - pre[: n - m + 1] * bm) & MASK64


def _common(pre_a: np.ndarray, pre_b: np.ndarray, m: int) -> bool:
    """Do the two texts share any m-length window? One sort of the SMALLER
    window array + a searchsorted probe of the larger — np.intersect1d here
    cost three full sorts per binary-search probe and was the verify stage's
    top profile line (92k probes per 20k-pair batch)."""
    wa = _window_hashes(pre_a, m)
    wb = _window_hashes(pre_b, m)
    if not len(wa) or not len(wb):
        return False
    if len(wa) > len(wb):
        wa, wb = wb, wa
    wa = np.sort(wa)
    idx = np.searchsorted(wa, wb)
    idx[idx == len(wa)] = len(wa) - 1
    return bool(np.any(wa[idx] == wb))


def _sorted_any_common(x: np.ndarray, y: np.ndarray) -> bool:
    """Any shared value between two SORTED-UNIQUE uint64 arrays, via one
    searchsorted pass over the smaller array — no per-call sort (np.intersect1d
    re-sorts both sides every call; these arrays are pre-sorted per distinct
    text and probed once per candidate pair)."""
    if len(x) > len(y):
        x, y = y, x
    if not len(x):
        return False
    idx = np.searchsorted(y, x)
    idx[idx == len(y)] = len(y) - 1
    return bool(np.any(y[idx] == x))


def longest_common_run_from_prefixes(
    pre_a: np.ndarray, pre_b: np.ndarray, min_run: int = 1,
    exact: bool = True, wa_min: np.ndarray | None = None,
    wb_min: np.ndarray | None = None,
) -> int:
    """Core of ``longest_common_run_hashed`` over PRECOMPUTED prefix-hash
    arrays (``_prefix_hashes``), so a text appearing in many candidate pairs
    pays its O(n) hashing once, not once per pair.

    ``wa_min``/``wb_min``, when given, are the texts' sorted-unique
    ``min_run``-window hashes (``np.unique(_window_hashes(pre, min_run))``)
    — the threshold membership test then probes the cached arrays instead of
    rebuilding both window sets per pair, which was the verify stage's
    per-pair hot spot.
    """
    n_a, n_b = len(pre_a) - 1, len(pre_b) - 1
    if n_a <= 0 or n_b <= 0:
        return 0
    hi = min(n_a, n_b)
    lo = max(min_run, 1)
    if lo > hi:
        return 0
    if wa_min is not None and wb_min is not None:
        if not _sorted_any_common(wa_min, wb_min):
            return 0
    elif not _common(pre_a, pre_b, lo):
        return 0
    if not exact:
        return lo
    best = lo
    lo += 1
    while lo <= hi:
        mid = (lo + hi) // 2
        if _common(pre_a, pre_b, mid):
            best = mid
            lo = mid + 1
        else:
            hi = mid - 1
    return best


def longest_common_run_hashed(
    a: list[int] | np.ndarray, b: list[int] | np.ndarray, min_run: int = 1,
    exact: bool = True,
) -> int:
    """Longest common contiguous run of two int sequences, or 0 if it is
    shorter than ``min_run``.

    One vectorized membership test at exactly ``min_run`` rejects the common
    case (candidate pairs sharing an anchor shingle but no long run) in a
    single pass; only genuine hits pay the O(n log n) binary search. Rolling
    64-bit hashes; collision probability ~2^-64 per window, accepted.

    ``exact=False`` skips the binary search and returns ``min_run`` as soon
    as the threshold test passes — a >= answer, severalfold cheaper. The
    pipeline uses this (it only needs the edge, not the length); report paths
    wanting the true length keep the default.
    """
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    if not len(a) or not len(b):
        return 0
    return longest_common_run_from_prefixes(
        _prefix_hashes(a), _prefix_hashes(b), min_run=min_run, exact=exact
    )


def anchor_index(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, sha256, anchor) — the inverted-index rows.

    Reads the 64-bit ``anchors`` column materialized by the signature UDF
    (full key entropy for the GLOBAL anchor groupBy; the stored 32-bit
    shingles are wide enough only for per-pair set ops, and column pruning
    keeps them out of this scan — plan-asserted in tests/test_plans.py).
    Signatures checkpointed before the anchors column exist carry 64-bit
    shingle arrays instead; the same modulus selects the identical anchor
    set from them."""
    if "anchors" in signatures.columns:
        return signatures.select(
            "doc_id", "sha256", F.explode("anchors").alias("anchor")
        )
    q = cfg.anchor_modulus()
    return signatures.select(
        "doc_id",
        "sha256",
        F.explode(
            F.filter(F.col("shingles"), lambda s: F.pmod(s, F.lit(q)) == 0)
        ).alias("anchor"),
    )


def anchor_pairs(
    signatures: DataFrame, cfg: DedupConfig, bucket_cap: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (cand(a, b), capped(anchor, overflow), stats(rows, overflow)) via
    deterministic anchor sampling over the stored distinct shingle-hash
    arrays (pmod on the stored 32-bit hashes, JVM-side).

    Anchor density: a fraction 1/q of ALL corpus shingles enters the inverted
    index, with q = max(1, (L-k+1) // cfg.substr_anchors_expected). At the
    defaults (L=50, k=5, expected=8) that is ~17% of shingle volume; the miss
    probability for a qualifying run is ~e^-expected. Longer run thresholds
    sample proportionally sparser (L=100 -> q=12 -> ~8%), and lowering
    ``substr_anchors_expected`` trades recall for index volume explicitly —
    the knob, the 1/q share, and the e^-E bound are stated in docs/SCALE.md's
    stage table.

    ``stats`` has one row per anchor bucket (``rows`` = members in the
    inverted index, including members truncated at the salt level;
    ``overflow`` = members beyond ``bucket_cap``); both frames derive from
    the lazily-checkpointed bucket table, so aggregating them AFTER any
    consumer of ``cand`` has run is a cheap job over cached partitions (the
    pipeline's drain pattern — df.observe cannot be used here, see
    operators/lsh.py candidate_pairs).

    Skew: the LSH band stage's two-level salted capped aggregation
    (lsh.capped_id_buckets). A boilerplate shingle ≡ 0 (mod q) can appear
    in 10^7+ docs; a single-level collect_list would materialize that whole
    bucket in one aggregation buffer before the cap applies. Salting on
    doc_id bounds any task's buffer at ``bucket_cap`` and the merge level at
    ``salt_buckets * bucket_cap``; every truncation is counted, never
    silent.
    """
    from replicheck_spark.operators.lsh import capped_id_buckets, intra_array_pairs

    anchors = anchor_index(signatures, cfg)
    # identical docs already linked by the exact stage: one rep per sha256
    anchors = anchors.groupBy("anchor", "sha256").agg(F.min("doc_id").alias("doc_id"))
    buckets = (
        capped_id_buckets(
            anchors.withColumn(
                "salt", F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets))
            ),
            ["anchor"], bucket_cap,
        )
        # every member kept or truncated at either level
        .withColumn("rows", F.size("ids") + F.col("overflow"))
        # lazy: materialized by the first cand consumer, then shared by the
        # capped/stats metric aggs instead of recomputing the explode+agg.
        # Cap BEFORE the checkpoint: caching uncapped membership would store
        # a hot anchor's full id list (unbounded) when everything downstream
        # needs only rows/overflow and the first bucket_cap ids.
        .localCheckpoint(eager=False)
    )
    stats = buckets.select("rows", "overflow")
    capped = buckets.filter(F.col("overflow") > 0).select("anchor", "overflow")
    pairs = (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(intra_array_pairs("ids")).alias("p"))
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )
    return pairs, capped, stats


_VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("a_url", T.StringType()),
        T.StructField("b_url", T.StringType()),
        T.StructField("run_tokens", T.IntegerType()),
    ]
)


def substr_edges(
    cand: DataFrame, docs: DataFrame, cfg: DedupConfig, exact_run: bool = True
) -> DataFrame:
    """Verify candidate pairs; keep runs >= substr_min_tokens.

    -> edges(a, b, a_url, b_url, jaccard=null, hamming=null, kind='substr',
    run_tokens). ``exact_run=False`` -> run_tokens is the threshold (a lower
    bound), skipping the per-pair binary search.
    """
    d = docs.select("doc_id", "url", "norm_text")
    joined = (
        cand.join(
            d.select(
                F.col("doc_id").alias("a"),
                F.col("url").alias("a_url"),
                F.col("norm_text").alias("a_text"),
            ),
            "a",
        )
        .join(
            d.select(
                F.col("doc_id").alias("b"),
                F.col("url").alias("b_url"),
                F.col("norm_text").alias("b_text"),
            ),
            "b",
        )
        .select("a", "b", "a_url", "b_url", "a_text", "b_text")
    )

    min_run = cfg.substr_min_tokens

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from replicheck_spark.functions.hashing import hash_token_lists

        for pdf in batches:
            # ALL per-text work is hoisted to one pass over the batch's
            # DISTINCT texts: token hashing (factorize -> one blake2b per
            # distinct token), the polynomial prefix hashes, and the
            # sorted-unique min_run-window set used by the threshold test.
            # The per-pair loop then only probes two cached sorted arrays
            # (searchsorted) — a text in 50 candidate pairs is hashed once,
            # not 50 times (the r3 hot spot: _prefix_hashes re-ran per pair).
            uniq = pd.unique(
                pd.concat([pdf["a_text"], pdf["b_text"]], ignore_index=True)
            )
            flat, off = hash_token_lists([tokenize(t) for t in uniq])
            pre_cache: dict[str, np.ndarray] = {}
            win_cache: dict[str, np.ndarray] = {}
            for i, t in enumerate(uniq):
                pre = _prefix_hashes(flat[off[i] : off[i + 1]])
                pre_cache[t] = pre
                win_cache[t] = np.unique(_window_hashes(pre, min_run))

            out = {"a": [], "b": [], "a_url": [], "b_url": [], "run_tokens": []}
            for row in pdf.itertuples(index=False):
                run = longest_common_run_from_prefixes(
                    pre_cache[row.a_text], pre_cache[row.b_text],
                    min_run=min_run, exact=exact_run,
                    wa_min=win_cache[row.a_text], wb_min=win_cache[row.b_text],
                )
                if run >= min_run:
                    out["a"].append(row.a)
                    out["b"].append(row.b)
                    out["a_url"].append(row.a_url)
                    out["b_url"].append(row.b_url)
                    out["run_tokens"].append(run)
            yield pd.DataFrame(out)

    verified = joined.mapInPandas(verify, schema=_VERIFY_SCHEMA)
    return verified.select(
        "a", "b", "a_url", "b_url",
        F.lit(None).cast("double").alias("jaccard"),
        F.lit(None).cast("int").alias("hamming"),
        F.lit("substr").alias("kind"),
        "run_tokens",
    )


def substr_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Documents-table face of the substring stage: (a, b) doc pairs sharing a
    verbatim run of >= cfg.substr_min_tokens whitespace tokens, distinct texts
    only (identical texts belong to the exact stage).

    SQL-expressible contract (DuckDB oracle): two docs share an L-token run
    iff they share an L-token window — the anchor-sampled + verified Spark
    path reproduces that set (anchor miss probability ~e^-8 per qualifying
    pair). Representative-level pairs are expanded back to all members of
    each identical-text group, mirroring minhash_lsh_pairs.
    """
    from replicheck_spark.functions.udfs import make_anchor_hash_udf
    from replicheck_spark.operators.dedup_ops import _expand_exact_members

    a_udf = make_anchor_hash_udf(cfg.shingle_k, cfg.anchor_modulus())
    sigs = docs.select(
        "doc_id",
        F.col("doc_id").cast("string").alias("url"),
        F.sha2("text", 256).alias("sha256"),
        a_udf(F.col("text")).alias("anchors"),
    ).localCheckpoint(eager=False)  # consumed by anchor + expansion branches
    cand, _capped, _stats = anchor_pairs(sigs, cfg)
    d = docs.select(
        "doc_id", F.col("doc_id").cast("string").alias("url"),
        F.col("text").alias("norm_text"),
    )
    rep_edges = substr_edges(cand, d, cfg)
    members = sigs.select("doc_id", "sha256")
    sha_of = members
    with_shas = (
        rep_edges.select("a", "b")
        .join(sha_of.select(F.col("doc_id").alias("a"),
                            F.col("sha256").alias("a_sha")), "a")
        .join(sha_of.select(F.col("doc_id").alias("b"),
                            F.col("sha256").alias("b_sha")), "b")
    )
    return _expand_exact_members(with_shas, members, [])
