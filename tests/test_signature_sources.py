"""SimHash near-pair contract of the signature stage's shingle source.

The signature stage has one shingle source: norm_text crosses Arrow and
Python hashes the shingles. The test name keeps "both sources" from the time
a JVM shingle source ran beside it; the contract it checks never depended on
the source.
"""

from __future__ import annotations

from replicheck_spark.config import DedupConfig


def _planted_docs(spark):
    base = [f"t{i}" for i in range(120)]
    rows = []
    for i in range(20):
        v = list(base)
        v[0] = f"v{i // 2}"  # pairs (0,1), (2,3), ... are exact dups
        if i % 2:
            v[1] = "flip"    # ... made near dups instead
        rows.append((i, " ".join(v), "s0"))
    rows += [(100 + i, " ".join(f"z{i}x{j}" for j in range(80)), "s1")
             for i in range(10)]  # unrelated docs
    # genuine exact duplicates (same text, new doc_id) of the first 5 docs
    rows += [(200 + i, rows[i][1], "s2") for i in range(5)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_simhash_pairs_contract_holds_under_both_sources(spark):
    """SimHash values are hash-dependent (bitwise majority over shingle
    hashes), and same-sha pairs are excluded by design: identical text is
    the exact stage's job. What must hold: the planted one-token-apart
    family is detected, every emitted pair respects the radius, and members
    of an identical-text group carry identical near edges (the
    member-expansion contract)."""
    from replicheck_spark.operators import dedup_ops

    docs = _planted_docs(spark)
    cfg = DedupConfig()
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup_ops.simhash_pairs(docs, cfg).collect()
    }
    assert got  # planted near family detected
    assert all(h <= cfg.hamming_max for h in got.values())
    # expansion contract: doc 200 has identical text to doc 0, so for every
    # partner p of 0 (other than 200's own sha group), the pair (p, 200)
    # must exist with the same hamming
    partners = {b: h for (a, b), h in got.items() if a == 0}
    partners.update({a: h for (a, b), h in got.items() if b == 0})
    assert partners
    for p, h in partners.items():
        if p == 200:
            continue
        key = (min(p, 200), max(p, 200))
        assert got.get(key) == h, (key, got.get(key), h)
