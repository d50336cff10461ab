"""End-to-end test of the curation job surface (jobs/curate.py): the staged
lineage report, the composition order (signals -> scrub -> line-dedup(keep
first) -> near-dedup), and the checkpoint/resume contract. Runs in a
subprocess (own JVM) because the job owns its SparkSession lifecycle
(main() stops it), same isolation as tests/test_spark_submit.py."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_job(args: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"), *args],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = proc.stdout
    return json.loads(out[out.index("{"):])


@pytest.fixture(scope="module")
def planted_docs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("curate_in")
    dup = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " CHANGED"
    # distinct tokens (a repeated phrase would trip the Gopher repetition
    # flag and drop the doc before the scrub stage could prove itself)
    pii = " ".join(f"w{i}" for i in range(49)) + " contact jane.doe@example.com now"
    junk = ("spam " * 60).strip()  # one repeated unigram -> repetition flag
    rows = [
        (1, dup, "en", "s0"),
        (2, dup, "en", "s1"),        # exact dup of 1
        (3, near, "en", "s0"),       # near dup of 1 -> dedup drops it
        (4, pii, "en", "s0"),        # kept, but email scrubbed
        (5, junk, "en", "s2"),       # repetition-flagged -> signals drop
        (6, " ".join(f"q{i}" for i in range(70)), "en", "s1"),  # clean keeper
    ]
    p = str(d / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.parquet(p)
    return p


def test_curate_job_lineage_and_resume(spark, planted_docs, tmp_path):
    ckpt = str(tmp_path / "ck")
    args = ["--docs", planted_docs, "--ckpt", ckpt, "--run-id", "t1",
            "--master", "local[4]"]
    out = _run_job(args)
    st = out["stages"]
    assert st["docs"]["rows_out"] == 6
    assert st["filtered"]["rows_out"] == 5          # junk doc 5 dropped
    assert st["scrubbed"]["rows_out"] == 5
    # single-line docs: docs 1/2 share their one line; keep_first keeps doc
    # 1's copy, doc 2 empties out and is dropped by the line stage
    assert st["line_dedup"]["rows_out"] == 4
    assert st["curated"]["rows_out"] == 3           # near-dup doc 3 dropped
    assert out["docs_in"] == 6 and out["docs_out"] == 3
    # the curated table exists and the PII doc was scrubbed
    cur = spark.read.parquet(os.path.join(ckpt, "t1", "curated"))
    kept = {r["doc_id"]: r["text"] for r in cur.collect()}
    assert set(kept) == {1, 4, 6}
    assert "[EMAIL]" in kept[4] and "example.com" not in kept[4]
    # the metrics table (FIXTURES.md §3) carries the report's counts; rows_in
    # is the upstream stage's count, -1 for the stage fed by the raw input
    metrics = os.path.join(ckpt, "t1", "_metrics")
    totals = {r["stage"]: r for r in pq.read_table(metrics).to_pylist()
              if r["partition_id"] == -1}
    assert set(totals) == set(st)
    prev = -1
    for name, row in st.items():
        assert totals[name]["rows_out"] == row["rows_out"], name
        assert totals[name]["rows_in"] == prev, name
        prev = row["rows_out"]

    # resume: identical lineage, every stage read back from checkpoint
    out2 = _run_job(args)
    assert all(s["resumed"] for s in out2["stages"].values())
    strip = lambda stages: {  # noqa: E731 - local shorthand
        k: {kk: vv for kk, vv in v.items() if kk != "resumed"}
        for k, v in stages.items()
    }
    assert strip(out2["stages"]) == strip(out["stages"])
    # a resumed stage records nothing: no further total rows
    assert sum(r["partition_id"] == -1
               for r in pq.read_table(metrics).to_pylist()) == len(st)


def test_curate_job_optional_block_and_mix_stages(spark, planted_docs, tmp_path):
    """--block-min-docs and --mix add the CCNet-window and mixture stages:
    lineage rows appear in order, the mixture drops exactly the rate-0
    source's survivors (deterministic), and resume is byte-identical with
    the optional stages enabled."""
    ckpt = str(tmp_path / "ck2")
    args = ["--docs", planted_docs, "--ckpt", ckpt, "--run-id", "t2",
            "--master", "local[4]",
            "--block-min-docs", "2",
            "--mix", "s1=0.0,default=1.0"]
    out = _run_job(args)
    st = out["stages"]
    assert list(st) == ["docs", "filtered", "scrubbed", "line_dedup",
                        "block_strip", "curated", "mixed"]
    # the planted 60-70 token docs are single distinct windows — the block
    # stage must pass them through untouched (its job is repeated windows)
    assert st["block_strip"]["rows_out"] == st["line_dedup"]["rows_out"] == 4
    assert st["curated"]["rows_out"] == 3            # near-dup doc 3 dropped
    # survivors before mix: 1 (s0), 4 (s0), 6 (s1); rate 0 kills source s1
    assert st["mixed"]["rows_out"] == 2 and out["docs_out"] == 2
    mixed = spark.read.parquet(os.path.join(ckpt, "t2", "mixed"))
    assert {r["doc_id"] for r in mixed.collect()} == {1, 4}

    out2 = _run_job(args)
    assert all(s["resumed"] for s in out2["stages"].values())
    strip = lambda stages: {  # noqa: E731 - local shorthand
        k: {kk: vv for kk, vv in v.items() if kk != "resumed"}
        for k, v in stages.items()
    }
    assert strip(out2["stages"]) == strip(out["stages"])


@pytest.fixture(scope="module")
def crosslang_docs(spark, tmp_path_factory):
    """A near-dup pair split ACROSS languages plus one within a language:
    the --scope lang fixture. Texts are >=50 distinct tokens so no other
    stage interferes."""
    d = tmp_path_factory.mktemp("curate_scope_in")
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " CHANGED"
    rows = [
        (1, base, "en", "s0"),
        (2, near, "en", "s0"),   # same-lang near dup -> dropped either way
        (3, base, "de", "s1"),   # exact text of 1, other lang
        (4, near, "fr", "s1"),   # near text, third lang
        (5, " ".join(f"q{i}" for i in range(70)), "en", "s1"),
    ]
    p = str(d / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.parquet(p)
    return p


def test_curate_job_scope_lang(spark, crosslang_docs, tmp_path):
    """--scope lang makes the near-dedup stage scope-local end to end: the
    cross-lang exact/near copies of doc 1 survive a scoped run and are
    dropped by an unscoped one; resume with the flag is byte-identical.
    (line-dedup is disabled: these single-line docs would otherwise be
    collapsed by corpus line frequency before dedup could show anything.)"""
    ckpt = str(tmp_path / "cks")
    args = ["--docs", crosslang_docs, "--ckpt", ckpt, "--run-id", "s1",
            "--master", "local[4]", "--no-line-dedup", "--scope", "lang"]
    out = _run_job(args)
    scoped = spark.read.parquet(os.path.join(ckpt, "s1", "curated"))
    assert {r["doc_id"] for r in scoped.collect()} == {1, 3, 4, 5}
    assert out["stages"]["curated"]["dropped"] == 1   # only same-lang doc 2

    unscoped = _run_job(
        ["--docs", crosslang_docs, "--ckpt", ckpt, "--run-id", "u1",
         "--master", "local[4]", "--no-line-dedup"]
    )
    cur = spark.read.parquet(os.path.join(ckpt, "u1", "curated"))
    assert {r["doc_id"] for r in cur.collect()} == {1, 5}
    assert unscoped["stages"]["curated"]["dropped"] == 3

    out2 = _run_job(args)  # scoped resume
    assert all(s["resumed"] for s in out2["stages"].values())
    assert out2["docs_out"] == out["docs_out"] == 4


def test_curate_job_scope_missing_column_fails_fast(crosslang_docs, tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--docs", crosslang_docs, "--ckpt", str(tmp_path / "ckx"),
         "--scope", "nope", "--master", "local[2]"],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode != 0
    assert "--scope column 'nope'" in proc.stderr
