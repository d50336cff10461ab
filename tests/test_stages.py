"""Per-stage Spark tests: extract parity with the oracle, exact grouping
contract (reference test_detector.py:8-33 analog), signature UDF == direct
numpy functions, LSH candidates, confirm, connected components, substring."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from replicheck_spark.config import DedupConfig
from replicheck_spark.functions import hashing
from replicheck_spark.functions import minhash as mh
from replicheck_spark.functions.textnorm import normalize_text, tokenize
from replicheck_spark.operators.components import connected_components
from replicheck_spark.operators.confirm import confirm_pairs
from replicheck_spark.operators.exact import exact_edges, exact_groups
from replicheck_spark.operators.extract import (
    audit_doc_id_collisions,
    eligible_docs,
    extract_docs,
)
from replicheck_spark.operators.lsh import candidate_pairs, explode_bands
from replicheck_spark.operators.signatures import compute_signatures
from replicheck_spark.operators.substr import (
    anchor_pairs,
    longest_common_run_hashed,
    substr_edges,
)

CFG = DedupConfig()


class TestExtract:
    def test_extraction_byte_identical_to_oracle(self, spark, pages_small, oracle_small):
        pages, _, _ = pages_small
        docs = extract_docs(pages)
        got = {r["url"]: r["norm_text"] for r in docs.collect()}
        assert got == oracle_small.norm_texts

    def test_n_tokens_and_sha(self, spark, pages_small, oracle_small):
        pages, _, _ = pages_small
        docs = extract_docs(pages).collect()
        for r in docs:
            assert r["n_tokens"] == len(oracle_small.docs[r["url"]])
        assert audit_doc_id_collisions(extract_docs(pages)) == 0

    def test_host_extraction(self, spark, pages_small):
        pages, _, _ = pages_small
        row = extract_docs(pages).select("url", "host").first()
        from replicheck_spark.functions.textnorm import host_of
        assert row["host"] == host_of(row["url"])

    def test_multiple_captures_collapse_to_latest(self, spark):
        """WARC-style inputs re-capture the same url; docs must carry ONE row
        per url (the latest warc_ts), or every downstream doc_id join
        multiplies rows while audit_doc_id_collisions sees nothing (equal
        urls). Null warc_ts sorts before any real timestamp."""
        from datetime import datetime, timezone

        old = " ".join(f"old{i}" for i in range(60))
        new = " ".join(f"new{i}" for i in range(60))
        rows = [
            ("https://a.example/1", datetime(2024, 1, 1, tzinfo=timezone.utc),
             None, old, "en"),
            ("https://a.example/1", datetime(2025, 6, 1, tzinfo=timezone.utc),
             None, new, "en"),
            ("https://a.example/1", None, None, "null ts capture", "en"),
            ("https://b.example/2", None, None, old, "en"),
        ]
        pages = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        docs = extract_docs(pages).collect()
        by_url = {}
        for r in docs:
            assert r["url"] not in by_url, f"duplicate docs row for {r['url']}"
            by_url[r["url"]] = r
        assert by_url["https://a.example/1"]["norm_text"].startswith("new0")
        assert len(by_url) == 2
        # opt-out keeps all captures
        assert extract_docs(pages, dedupe_captures=False).count() == 4


class TestExact:
    def test_detector_contract(self, spark):
        """3 docs, 2 identical -> exactly 1 group, similarity 1.0, cross-host
        (mirror of /root/reference/tests/test_detector.py:8-33)."""
        text = " ".join(f"t{i}" for i in range(60))
        other = " ".join(f"z{i}" for i in range(60))
        pdf = spark.createDataFrame(
            [
                ("https://a.example/1", None, None, text, "en"),
                ("https://b.example/2", None, None, text, "en"),
                ("https://a.example/3", None, None, other, "en"),
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        elig = eligible_docs(extract_docs(pdf), 50)
        groups = exact_groups(elig).collect()
        assert len(groups) == 1
        g = groups[0]
        assert g["num_duplicates"] == 2
        assert g["similarity"] == 1.0
        assert g["cross_host"] is True
        assert g["size"] == 60
        edges = exact_edges(elig).collect()
        assert len(edges) == 1
        assert edges[0]["kind"] == "exact"

    def test_min_size_filter(self, spark):
        tiny = " ".join(f"t{i}" for i in range(10))
        pdf = spark.createDataFrame(
            [("u1", None, None, tiny, "en"), ("u2", None, None, tiny, "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        elig = eligible_docs(extract_docs(pdf), 50)
        assert exact_groups(elig).count() == 0

    def test_matches_oracle_groups(self, spark, pages_small, oracle_small):
        pages, _, _ = pages_small
        elig = eligible_docs(extract_docs(pages), 50)
        got = {
            tuple(g["member_urls"]): (g["num_duplicates"], g["cross_host"])
            for g in exact_groups(elig).collect()
        }
        want = {
            tuple(g["urls"]): (g["num_duplicates"], g["cross_host"])
            for g in oracle_small.exact_groups
        }
        assert got == want


class TestSignatures:
    def test_udf_matches_direct_numpy(self, spark, pages_small):
        pages, _, _ = pages_small
        elig = eligible_docs(extract_docs(pages), 50)
        sigs = compute_signatures(elig, CFG)
        sample = sigs.join(
            elig.select("doc_id", "norm_text"), "doc_id"
        ).limit(20).collect()
        coeffs = mh.make_coeffs(CFG.num_perm, CFG.seed)
        for r in sample:
            toks = tokenize(r["norm_text"])
            sh = hashing.shingle_hash_set(toks, CFG.shingle_k)
            off = np.array([0, len(sh)])
            m = mh.minhash_flat(sh, off, coeffs)[0].astype(np.int64)
            s = int(mh.simhash_flat(sh, off)[0].astype(np.int64))
            b = mh.band_hashes(m.astype(np.uint64).reshape(1, -1),
                               CFG.lsh_bands, CFG.lsh_rows)[0].astype(np.int64)
            # the raw minhash matrix is not shipped (bands derive from it in
            # the UDF); band equality checks the full minhash->band path
            assert r["simhash"] == s
            assert r["bands"] == b.tolist()

    def test_default_signature_udf_emits_empty_anchors(self, spark):
        """make_signature_udf's default anchor_q=0 means "no substring
        stage": anchors must be EMPTY, not a full 64-bit shingle copy —
        anchor_q=1 would ship ~1.5x the pre-split Arrow volume through the
        standalone minhash/simhash operators that drop the column."""
        from replicheck_spark.functions.udfs import make_signature_udf

        sig = make_signature_udf(
            CFG.shingle_k, CFG.num_perm, CFG.lsh_bands, CFG.lsh_rows, CFG.seed
        )
        text = " ".join(f"t{i}" for i in range(100))
        row = (
            spark.createDataFrame([(text,)], "t string")
            .select(sig(F.col("t")).alias("sig"))
            .select("sig.shingles", "sig.anchors")
            .first()
        )
        assert len(row["shingles"]) > 0 and row["anchors"] == []

    def test_identical_docs_identical_bands(self, spark):
        text = " ".join(f"t{i}" for i in range(100))
        pdf = spark.createDataFrame(
            [("u1", None, None, text, "en"), ("u2", None, None, text, "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        sigs = compute_signatures(eligible_docs(extract_docs(pdf), 50), CFG).collect()
        assert sigs[0]["bands"] == sigs[1]["bands"]
        assert sigs[0]["shingles"] == sigs[1]["shingles"]


class TestLshConfirm:
    def test_near_pair_found_and_confirmed(self, spark):
        base = [f"t{i}" for i in range(200)]
        near = list(base)
        near[10] = "x"
        near[100] = "y"  # 2 edits -> jaccard ~ (200-10)/(200+10) ~ 0.9
        far = [f"q{i}" for i in range(200)]
        pdf = spark.createDataFrame(
            [
                ("https://a.example/1", None, None, " ".join(base), "en"),
                ("https://b.example/2", None, None, " ".join(near), "en"),
                ("https://c.example/3", None, None, " ".join(far), "en"),
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        elig = eligible_docs(extract_docs(pdf), 50)
        sigs = compute_signatures(elig, CFG)
        bands = explode_bands(sigs, CFG)
        cands, capped = candidate_pairs(bands, CFG)
        cand_rows = cands.collect()
        assert len(cand_rows) >= 1
        edges = confirm_pairs(cands, sigs, CFG).collect()
        assert len(edges) == 1
        e = edges[0]
        assert {e["a_url"], e["b_url"]} == {"https://a.example/1", "https://b.example/2"}
        assert e["jaccard"] >= 0.8
        assert e["kind"] == "near"

    def test_exact_dups_suppressed_in_bands(self, spark):
        """Identical docs must NOT generate LSH candidate pairs (the exact
        stage owns them) — this is the giant-cluster skew guard."""
        text = " ".join(f"t{i}" for i in range(100))
        rows = [(f"https://h{i}.example/{i}", None, None, text, "en") for i in range(20)]
        pdf = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        elig = eligible_docs(extract_docs(pdf), 50)
        sigs = compute_signatures(elig, CFG)
        cands, _ = candidate_pairs(explode_bands(sigs, CFG), CFG)
        assert cands.count() == 0

    def test_bucket_cap_logged_not_silent(self, spark):
        cfg = DedupConfig(bucket_cap=2, salt_buckets=1)
        base = [f"t{i}" for i in range(100)]
        rows = []
        for i in range(8):  # 8 distinct near-identical docs -> one bucket
            v = list(base)
            v[0] = f"v{i}"
            rows.append((f"https://h{i}.example/{i}", None, None, " ".join(v), "en"))
        pdf = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        sigs = compute_signatures(eligible_docs(extract_docs(pdf), 50), cfg)
        cands, capped = candidate_pairs(explode_bands(sigs, cfg), cfg)
        assert capped.count() > 0
        assert (capped.agg(F.sum("overflow")).collect()[0][0] or 0) > 0


class TestComponents:
    def test_chain_converges_to_min(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
        )
        labels = {r["doc_id"]: r["cluster_id"]
                  for r in connected_components(edges).collect()}
        assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_star_and_cycle(self, spark):
        edges = spark.createDataFrame(
            [(5, 1), (5, 2), (5, 3), (7, 8), (8, 9), (9, 7)], "a long, b long"
        )
        labels = {r["doc_id"]: r["cluster_id"]
                  for r in connected_components(edges).collect()}
        assert labels == {1: 1, 2: 1, 3: 1, 5: 1, 7: 7, 8: 7, 9: 7}


class TestSubstr:
    def test_longest_common_run_hashed(self):
        a = [1, 2, 3, 4, 5, 6]
        b = [9, 3, 4, 5, 8]
        assert longest_common_run_hashed(a, b) == 3
        assert longest_common_run_hashed([], b) == 0
        assert longest_common_run_hashed(a, a) == 6

    def test_cached_prefix_path_matches_direct(self):
        """The batch-cached verify path (precomputed prefixes + sorted-unique
        window sets) must agree with the direct per-pair computation on random
        sequences around the threshold."""
        import random

        import numpy as np

        from replicheck_spark.operators.substr import (
            _prefix_hashes,
            _window_hashes,
            longest_common_run_from_prefixes,
        )

        rng = random.Random(3)
        for trial in range(30):
            n = rng.randint(0, 40)
            m = rng.randint(0, 40)
            a = [rng.randint(0, 9) for _ in range(n)]
            shared = [rng.randint(0, 9) for _ in range(rng.randint(0, 12))]
            b = a[: rng.randint(0, n)] + shared + [
                rng.randint(0, 9) for _ in range(m)
            ]
            for min_run, exact in [(1, True), (3, True), (5, False), (8, True)]:
                want = longest_common_run_hashed(a, b, min_run=min_run, exact=exact)
                pa = _prefix_hashes(np.asarray(a, dtype=np.uint64))
                pb = _prefix_hashes(np.asarray(b, dtype=np.uint64))
                got = longest_common_run_from_prefixes(
                    pa, pb, min_run=min_run, exact=exact,
                    wa_min=np.unique(_window_hashes(pa, min_run)),
                    wb_min=np.unique(_window_hashes(pb, min_run)),
                )
                assert got == want, (a, b, min_run, exact)

    def test_substr_pair_detected(self, spark):
        import random
        rng = random.Random(1)
        shared = [f"s{i}" for i in range(80)]
        a = [f"a{i}" for i in range(150)] + shared + [f"aa{i}" for i in range(150)]
        b = [f"b{i}" for i in range(150)] + shared + [f"bb{i}" for i in range(150)]
        c = [f"c{i}" for i in range(300)]
        pdf = spark.createDataFrame(
            [
                ("https://a.example/1", None, None, " ".join(a), "en"),
                ("https://b.example/2", None, None, " ".join(b), "en"),
                ("https://c.example/3", None, None, " ".join(c), "en"),
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        docs = extract_docs(pdf)
        elig = eligible_docs(docs, 50)
        sigs = compute_signatures(elig, CFG)
        cand, capped, _stats = anchor_pairs(sigs, CFG)
        edges = substr_edges(cand, docs, CFG).collect()
        assert len(edges) == 1
        assert edges[0]["run_tokens"] == 80
        assert edges[0]["kind"] == "substr"

    def test_anchor_legacy_fallback_matches_anchors_column(self, spark):
        """A signatures checkpoint written before the 32-bit shingle change
        has 64-bit shingle arrays and no anchors column; anchor_pairs must
        fall back to the pmod filter over them and select the IDENTICAL
        candidate set (same q, same floored-mod semantics)."""
        shared = [f"s{i}" for i in range(80)]
        a = [f"a{i}" for i in range(150)] + shared + [f"aa{i}" for i in range(150)]
        b = [f"b{i}" for i in range(150)] + shared + [f"bb{i}" for i in range(150)]
        c = [f"c{i}" for i in range(300)]
        pdf = spark.createDataFrame(
            [
                ("https://a.example/1", None, None, " ".join(a), "en"),
                ("https://b.example/2", None, None, " ".join(b), "en"),
                ("https://c.example/3", None, None, " ".join(c), "en"),
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        sigs = compute_signatures(
            eligible_docs(extract_docs(pdf), 50), CFG
        ).collect()
        # legacy frame: 64-bit shingles (recomputed from the tokens — the
        # stored 32-bit column cannot be widened back), no anchors column
        toks_of = {
            "https://a.example/1": a,
            "https://b.example/2": b,
            "https://c.example/3": c,
        }
        legacy_rows = []
        for r in sigs:
            sh64 = hashing.shingle_hash_set(
                toks_of[r["url"]], CFG.shingle_k
            ).view(np.int64)
            legacy_rows.append((r["doc_id"], r["sha256"], sh64.tolist()))
        legacy = spark.createDataFrame(
            legacy_rows, "doc_id long, sha256 string, shingles array<long>"
        )
        modern = spark.createDataFrame(
            [(r["doc_id"], r["sha256"], r["anchors"]) for r in sigs],
            "doc_id long, sha256 string, anchors array<long>",
        )
        cand_legacy, _, _ = anchor_pairs(legacy, CFG)
        cand_modern, _, _ = anchor_pairs(modern, CFG)
        got = sorted((r["a"], r["b"]) for r in cand_legacy.collect())
        want = sorted((r["a"], r["b"]) for r in cand_modern.collect())
        assert got == want and len(want) >= 1


class TestReadingComplexity:
    def test_hand_computed_fog_and_severity(self, spark):
        """reading_complexity matches a hand-computed Gunning-Fog value and
        applies the reference severity ladder (utils.py compute_severity) at
        threshold 10; docs under the threshold are not listed."""
        from replicheck_spark.operators.textops import reading_complexity

        # doc 1: 10 words, 2 sentence marks, 5 complex (len>=8) words
        #   fog = 0.4 * (10/2 + 100*5/10) = 0.4 * 55 = 22.0 -> ratio 2.2 -> High
        long_w = "abcdefgh"  # len 8 -> complex
        d1 = " ".join([long_w] * 5 + ["tiny"] * 3) + " end. fin!"
        # doc 2: simple prose, clearly under threshold:
        #   8 words, 4 sentence marks, 0 complex -> fog = 0.4*(8/4+0) = 0.8
        d2 = "a b. c d. e f. g h."
        docs = spark.createDataFrame(
            [(1, d1), (2, d2)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in reading_complexity(docs, 10.0).collect()}
        assert set(rows) == {1}
        r = rows[1]
        assert r["n_words"] == 10
        assert r["n_sentences"] == 2
        assert r["n_complex"] == 5
        assert abs(r["fog"] - 22.0) < 1e-12
        assert r["severity"] == "High"


class TestRepetitionStats:
    def test_hand_computed_gopher_fractions(self, spark):
        """repetition_stats matches hand-computed Gopher A1.1 fractions on
        planted docs covering every metric, the flag thresholds, and the
        degenerate empty/short cases."""
        from replicheck_spark.operators.textops import repetition_stats

        rows = [
            # 7 bigrams, "a b" x3 -> top2 = 3/7; no repeated 5-gram.
            (1, "a b a b a b c d"),
            # lines after trim/drop-empty: x, y, x, "z z z z z z z z z z"
            #   -> dup_line = 1/4; line chars 1+1+1+19=22, dup chars 1/22.
            # the single-space split yields 12 tokens ("x\n", "y",
            #   "\n\nx\nz", "z" x9) -> 8 5-grams, "z z z z z" x5 -> dup 4/8.
            (2, "x\n y \n\nx\nz z z z z z z z z z"),
            (3, ""),  # empty: all zero, not flagged
            # "one two three four five" x3: 5-grams = 11 total; the window
            #   repeats cyclically -> every gram occurs >1 except none... each
            #   of the 5 rotations occurs 2 or 3 times: dup = 11 - 5 = 6/11.
            (4, "one two three four five one two three four five one two three four five"),
            (5, "u v w"),  # 2 bigrams, distinct -> top2 = 1/2 (still > 0.20)
            # unequal token lengths separate the CHAR fraction from the count
            # fraction: bigrams "aaaa b" x2 (6 chars), "b aaaa" x1 (6),
            # "b c" x1 (3) -> top char mass 12 of 21 = 4/7 (count frac would
            # be 2/4) — the Rae et al. A1.1 character definition
            (6, "aaaa b aaaa b c"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
        assert abs(out[6]["top2gram_char_frac"] - 12 / 21) < 1e-12
        # docs 1/3/5 have all-1-char tokens, so char frac == count frac there
        assert abs(out[1]["top2gram_char_frac"] - 3 / 7) < 1e-12
        assert out[1]["dup5gram_frac"] == 0.0
        assert out[1]["flagged"]  # top2 3/7 > 0.20
        assert abs(out[2]["dup_line_frac"] - 0.25) < 1e-12
        assert abs(out[2]["dup_line_char_frac"] - 1 / 22) < 1e-12
        assert abs(out[2]["dup5gram_frac"] - 0.5) < 1e-12
        assert out[3]["top2gram_char_frac"] == 0.0
        assert out[3]["dup_line_frac"] == 0.0
        assert not out[3]["flagged"]
        assert abs(out[4]["dup5gram_frac"] - 6 / 11) < 1e-12
        # all 5-grams have equal char length here, so char-frac == count-frac
        assert abs(out[4]["dup5gram_char_frac"] - 6 / 11) < 1e-12
        assert out[4]["flagged"]  # dup5gram_char 6/11 > 0.15
        assert abs(out[5]["top2gram_char_frac"] - 0.5) < 1e-12
        assert out[5]["dup5gram_frac"] == 0.0

    def test_matches_duckdb_oracle(self, spark):
        """repetition_stats equals the driver's DuckDB oracle row for row on
        docs covering every metric, the tie-breaks, the degenerate cases,
        a \\r\\n doc and a space-padded line."""
        duckdb = pytest.importorskip("duckdb")
        import __spark_entry__ as entry_mod
        from replicheck_spark.operators.textops import repetition_stats

        rows = [
            (1, "a b a b a b c d"),
            (2, "x\n y \n\nx\nz z z z z z z z z z"),
            (3, ""),
            (4, "one two three four five one two three four five one two three four five"),
            (5, "u v w"),
            (6, "aaaa b aaaa b c"),
            (7, "HEADER\r\nHEADER\r\nbody"),   # \r is NOT trimmed (spaces only)
            (8, "repeat me\nrepeat me\n  repeat me  "),  # pad-trim matching
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = repetition_stats(docs)
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        cur = con.execute(entry_mod.oracle_sql()["repetition_stats"])
        assert [c[0] for c in cur.description] == got.columns
        want = sorted(cur.fetchall())
        assert len(want) == len(rows)
        assert sorted(map(tuple, got.collect())) == want


class TestPiiScrub:
    def test_planted_pii_detected_and_scrubbed(self, spark):
        """pii_scrub counts and redacts planted emails/IPs/phones; digit runs
        inside an already-scrubbed email are not re-counted as phones, and
        version-like strings (v1.2.3.4beta) and single-letter TLDs survive."""
        from replicheck_spark.operators.textops import pii_scrub

        rows = [
            (1, "contact john.doe+spam@example.co.uk or admin@host.io thanks"),
            (2, "server at 192.168.0.1 and 10.0.0.255, call +1-555-123-4567"),
            (3, "no pii here just words and 42"),
            (4, "edge 999.999.999.999 and v1.2.3.4beta and x@y.z"),
            (5, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
        assert (out[1]["n_emails"], out[1]["n_ipv4"], out[1]["n_phones"]) == (2, 0, 0)
        assert out[1]["clean_text"] == "contact [EMAIL] or [EMAIL] thanks"
        assert (out[2]["n_emails"], out[2]["n_ipv4"], out[2]["n_phones"]) == (0, 2, 1)
        assert out[2]["clean_text"] == "server at [IP] and [IP], call [PHONE]"
        assert not out[3]["has_pii"] and out[3]["clean_text"] == rows[2][1]
        # naive IPv4 matches out-of-range octets (documented); \b keeps the
        # version string, and a 1-letter TLD is not an email
        assert out[4]["n_ipv4"] == 1 and out[4]["n_emails"] == 0
        assert "v1.2.3.4beta" in out[4]["clean_text"]
        assert not out[5]["has_pii"]

    def test_single_projection_no_shuffle(self, spark):
        """One codegen'd projection: no exchange and no Python eval in the
        physical plan."""
        from replicheck_spark.operators.textops import pii_scrub

        docs = spark.createDataFrame([(1, "a@b.io")], "doc_id long, text string")
        plan = pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestCorpusFilter:
    def test_planted_verdicts_one_reason_each(self, spark):
        """corpus_filter keeps exactly the doc that clears all three signals;
        each planted dropper fails exactly the signal it was built to fail."""
        from replicheck_spark.operators.textops import corpus_filter

        # 55 words, ~10% stopwords, all-alpha, no repeated grams/lines:
        # clears every quality band and no repetition flag.
        good = " ".join(
            f"{w}{i}".replace("0", "o").replace("1", "l").replace("2", "t")
            .replace("3", "e").replace("4", "a").replace("5", "s")
            for i, w in enumerate(["word"] * 50)
        ) + " the and of to in"
        rows = [
            (1, good),
            (2, good + " contact admin@example.io"),  # PII only
            (3, "spam ham " * 40 + "the and of to in"),  # repetitive only
            # low quality only: 20 distinct symbol tokens — short + no alpha
            # + no stopwords, but every bigram unique so not repetitive
            # (3 tokens would trip Gopher's top-bigram 0.20 at frac=1/2)
            (4, " ".join(a + b for a in "!?*#%" for b in "!?*#")),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in corpus_filter(docs).collect()}
        assert sorted(out) == [1, 2, 3, 4]
        assert out[1]["keep"] and not out[1]["has_pii"] and not out[1]["repetitive"]
        assert out[1]["quality"] >= 0.5
        assert not out[2]["keep"] and out[2]["has_pii"]
        assert out[2]["quality"] >= 0.5 and not out[2]["repetitive"]
        assert not out[3]["keep"] and out[3]["repetitive"] and not out[3]["has_pii"]
        assert not out[4]["keep"] and out[4]["quality"] < 0.5
        assert not out[4]["has_pii"] and not out[4]["repetitive"]

    def test_fused_projection_single_python_free_plan(self, spark):
        """The quality+PII signals are fused into one UDF-free projection;
        the whole filter plan contains no Python eval nodes."""
        from replicheck_spark.operators.textops import corpus_filter

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = corpus_filter(docs)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
