"""Stage SIGN: docs -> signatures(doc_id, url, host, n_tokens, sha256,
shingles, anchors, simhash, bands).

One Arrow exchange per batch: the signature pandas UDF computes shingle
hashes, 128-perm MinHash, 64-bit SimHash and the LSH band keys in a single
flattened numpy pass (functions/minhash.py). Discharges the reference's own
roadmap item (/root/reference/Project.md:70-71 — "Implement indexing, hashing,
or clustering to reduce the number of comparisons").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from replicheck_spark.config import DedupConfig
from replicheck_spark.functions.udfs import make_signature_udf


def compute_signatures(elig: DataFrame, cfg: DedupConfig) -> DataFrame:
    sig = make_signature_udf(
        cfg.shingle_k, cfg.num_perm, cfg.lsh_bands, cfg.lsh_rows,
        cfg.seed, anchor_q=cfg.anchor_modulus(),
    )
    sig_col = sig(F.col("norm_text"))
    return (
        elig.select(
            "doc_id", "url", "host", "n_tokens", "sha256",
            sig_col.alias("sig"),
        )
        .select(
            "doc_id", "url", "host", "n_tokens", "sha256",
            F.col("sig.shingles").alias("shingles"),
            F.col("sig.anchors").alias("anchors"),
            F.col("sig.simhash").alias("simhash"),
            F.col("sig.bands").alias("bands"),
        )
    )
