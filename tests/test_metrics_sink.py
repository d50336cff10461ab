"""The metrics sink off the Spark scheduler: per-partition lineage rows come
from the parquet footers of each stage's own output files, and every record
call is one driver-side pyarrow append — no Spark job.

Checked here: zero jobs per record call, per-file rows that match the files
on disk and the observed stage total, the named error on a footer/observe
mismatch, and the two crash/resume shapes of ``_metrics/`` (a leftover
dot-prefixed temp file; a part written by the older Spark append path next to
driver-written parts).

Also the stage runner both jobs share (``plans/stages.py``), which feeds the
sink: a fresh stage's rows_out is its write's observed count; a resumed
stage's comes from its parquet footers, with no count job; and a stage fed by
a resumed upstream records the upstream's footer count as its rows_in.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from replicheck_spark.config import DedupConfig
from replicheck_spark.plans.metrics import (
    METRICS_SCHEMA,
    LineageMismatchError,
    MetricsSink,
)
from replicheck_spark.plans.pipeline import run_dedup
from replicheck_spark.plans.stages import StageRunner
from replicheck_spark.sources.io import TableIO

RUN_ID = "ms"


def _data_files(stage_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(stage_dir)
                  if not f.startswith(("_", ".")))


def _jobs_started(spark, fn) -> int:
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None) or [])
    fn()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None) or []) - before)


@pytest.fixture(scope="module")
def planted_run(spark, pages_small, tmp_path_factory):
    pages, _, _ = pages_small
    ckpt = str(tmp_path_factory.mktemp("ms_ckpt"))
    res = run_dedup(spark, pages, DedupConfig(), ckpt, run_id=RUN_ID)
    return res, os.path.join(ckpt, RUN_ID), TableIO(spark, ckpt, RUN_ID)


def _sink(io, tmp_path) -> MetricsSink:
    return MetricsSink(io, str(tmp_path / "_metrics"))


def test_record_calls_start_no_spark_jobs(spark, planted_run, tmp_path):
    _, _, io = planted_run
    sink = _sink(io, tmp_path)
    rows = sum(io.file_row_counts("docs"))
    assert _jobs_started(
        spark, lambda: sink.record_stage("docs", -1, rows, 12)) == 0
    assert _jobs_started(
        spark, lambda: sink.record_totals("cands_capped", dropped=3)) == 0
    assert len(pq.read_table(sink.path)) == len(io.file_row_counts("docs")) + 2


def test_per_file_rows_match_stage_files_and_totals(planted_run):
    res, run_dir, _ = planted_run
    rows = [r.asDict() for r in res.metrics.collect()]
    stages = {r["stage"] for r in rows if r["partition_id"] >= 0}
    assert {"docs", "signatures", "exact_groups", "exact_edges", "cand_pairs",
            "near_edges", "substr_edges", "edges", "labels",
            "clusters"} == stages
    for stage in stages:
        files = _data_files(os.path.join(run_dir, stage))
        footer_rows = sum(
            pq.ParquetFile(os.path.join(run_dir, stage, f)).metadata.num_rows
            for f in files
        )
        parts = sorted((r["partition_id"], r["rows_out"]) for r in rows
                       if r["stage"] == stage and r["partition_id"] >= 0)
        (total,) = [r["rows_out"] for r in rows
                    if r["stage"] == stage and r["partition_id"] == -1]
        assert [pid for pid, _ in parts] == list(range(len(files))), stage
        assert sum(n for _, n in parts) == total == footer_rows, stage


def test_footer_observe_mismatch_raises(planted_run, tmp_path):
    _, _, io = planted_run
    sink = _sink(io, tmp_path)
    rows = sum(io.file_row_counts("signatures"))
    with pytest.raises(LineageMismatchError, match="signatures"):
        sink.record_stage("signatures", rows, rows + 1, 5)
    assert not os.path.exists(sink.path)  # nothing recorded


def test_leftover_dot_temp_file_is_invisible(planted_run, tmp_path):
    _, _, io = planted_run
    sink = _sink(io, tmp_path)
    sink.record_totals("substr_anchors", rows_out=40, dropped=2)
    # a kill mid-append leaves a truncated dot-prefixed temp file behind
    with open(os.path.join(sink.path, ".part-killed.parquet"), "wb") as fh:
        fh.write(b"PAR1\x00\x01 truncated")
    spark_rows = [tuple(r) for r in sink.read().collect()]
    arrow_rows = pq.read_table(sink.path).to_pylist()
    assert spark_rows == [(RUN_ID, "substr_anchors", -1, -1, 40, 2, 0)]
    assert [tuple(r.values()) for r in arrow_rows] == spark_rows


def test_spark_written_part_reads_with_driver_parts(spark, planted_run,
                                                     tmp_path):
    """Resuming a run whose ``_metrics/`` began under the Spark append path
    (a coalesced ``write.mode("append")``, with ``_SUCCESS`` and ``.crc``
    files) reads old and new parts back as one table."""
    _, _, io = planted_run
    sink = _sink(io, tmp_path)
    old = [(RUN_ID, "docs", 3, -1, 77, 0, 9), (RUN_ID, "docs", -1, -1, 77, 0, 9)]
    spark.createDataFrame(old, schema=METRICS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(sink.path)
    rows = sum(io.file_row_counts("labels"))
    sink.record_stage("labels", 10, rows, 4)
    sink.record_totals("cands_capped", dropped=1)
    want = sorted(old + [(RUN_ID, "labels", pid, 10, n, 0, 4) for pid, n in
                         enumerate(io.file_row_counts("labels"))]
                  + [(RUN_ID, "labels", -1, 10, rows, 0, 4),
                     (RUN_ID, "cands_capped", -1, -1, -1, 1, 0)])
    assert sorted(tuple(r) for r in sink.read().collect()) == want
    assert sorted(tuple(r.values())
                  for r in pq.read_table(sink.path).to_pylist()) == want


def _runner(spark, root) -> StageRunner:
    io = TableIO(spark, root, RUN_ID)
    return StageRunner(io, MetricsSink(io, f"{root}/{RUN_ID}/_metrics"))


def _totals(runner) -> list[tuple]:
    return sorted((r["stage"], r["rows_in"], r["rows_out"])
                  for r in runner.sink.read().collect()
                  if r["partition_id"] == -1)


def _never():
    raise AssertionError("a committed stage was rebuilt")


def test_fresh_then_resumed_stage_counts(spark, tmp_path):
    root = str(tmp_path)
    first = _runner(spark, root)
    df = first.run("nums", lambda: spark.range(0, 1000, 1, 3))
    assert first.rows == {"nums": 1000} and not first.resumed
    assert df.count() == 1000
    assert _totals(first) == [("nums", -1, 1000)]

    again = _runner(spark, root)
    resumed_jobs = _jobs_started(spark, lambda: again.run("nums", _never))
    assert again.rows == {"nums": 1000} and again.resumed == {"nums"}
    # the footer sum costs no Spark job: resuming launches no more jobs than
    # reading the stage back
    assert resumed_jobs <= _jobs_started(spark, lambda: again.io.read("nums"))
    assert _totals(again) == [("nums", -1, 1000)]  # nothing re-recorded


def test_fresh_stage_costs_no_more_jobs_than_its_write(spark, tmp_path):
    def build():
        return spark.range(0, 1000, 1, 3).withColumn("half", F.col("id") / 2)

    runner = _runner(spark, str(tmp_path))
    df = None

    def run():
        nonlocal df
        df = runner.run("nums", build)

    fresh_jobs = _jobs_started(spark, run)
    plain = TableIO(spark, str(tmp_path), "plain")
    # the read-back takes the written frame's schema: no schema-inference job
    assert fresh_jobs <= _jobs_started(spark, lambda: plain.write("nums", build()))
    inferred = runner.io.read("nums")
    assert df.schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())


def test_stage_after_resumed_upstream_gets_its_footer_count(spark, tmp_path):
    root = str(tmp_path)
    _runner(spark, root).run("nums", lambda: spark.range(0, 1000, 1, 3))
    runner = _runner(spark, root)
    nums = runner.run("nums", _never)
    # upstream defaults to the stage run last: a chain
    runner.run("even", lambda: nums.filter(F.col("id") % 2 == 0))
    assert runner.rows == {"nums": 1000, "even": 500}
    assert runner.resumed == {"nums"}
    assert _totals(runner) == [("even", 1000, 500), ("nums", -1, 1000)]


def test_metrics_read_with_no_parts_is_empty(spark, tmp_path):
    runner = _runner(spark, str(tmp_path))
    assert runner.sink.read().count() == 0


def test_explicit_upstream_overrides_the_chain(spark, tmp_path):
    runner = _runner(spark, str(tmp_path))
    nums = runner.run("nums", lambda: spark.range(0, 1000, 1, 3))
    runner.run("even", lambda: nums.filter(F.col("id") % 2 == 0))
    runner.run("odd", lambda: nums.filter(F.col("id") % 2 == 1), "nums")
    assert ("odd", 1000, 500) in _totals(runner)
