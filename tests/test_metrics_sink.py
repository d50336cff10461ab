"""The metrics sink off the Spark scheduler: per-partition lineage rows come
from the parquet footers of each stage's own output files, and every record
call is one driver-side pyarrow append — no Spark job.

Checked here: zero jobs per record call, per-file rows that match the files
on disk and the observed stage total, the named error on a footer/observe
mismatch, and the two crash/resume shapes of ``_metrics/`` (a leftover
dot-prefixed temp file; a part written by the older Spark append path next to
driver-written parts).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from replicheck_spark.config import DedupConfig
from replicheck_spark.plans.metrics import (
    METRICS_SCHEMA,
    LineageMismatchError,
    MetricsSink,
)
from replicheck_spark.plans.pipeline import run_dedup
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
