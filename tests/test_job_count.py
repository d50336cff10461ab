"""Serial-floor guard: the pipeline's Spark JOB count is the driver-side
round-trip budget — every job is a scheduling barrier that cannot be hidden
by adding executors (BENCH/BASELINE.md decomposition: ~63s of the 400k-doc
wall was job scheduling in round 2).  Round 3 fused the two exact-stage
aggregations and moved every eager capped-overflow collect onto df.observe;
this test pins the result so a future change that sneaks an eager
``.count()``/``.collect()``/eager-checkpoint back into the hot path fails
loudly instead of silently re-growing the floor.

Measured on the 300-doc seed-42 corpus (local[4], shuffle=8, AQE on):
  checkpoint="min", collect_metrics=False (bench mode)  -> 55 jobs
  checkpoint="full", collect_metrics=True (durable mode) -> 66 jobs
of which most are AQE exchange materializations (scale with plan shape, not
with eager driver actions), the rest stage writes, CC-round localCheckpoints
and the two deferred cap/anchor drains. The metrics sink itself launches no
job: its per-partition rows come from the stage files' parquet footers.  The
full-mode budget leaves ~15% headroom for AQE plan jitter across Spark point
releases; a regression that re-adds per-stage driver actions costs +5..10
jobs and will trip it.
"""

from __future__ import annotations

import shutil

import pytest

from replicheck_spark.config import DedupConfig
from replicheck_spark.plans.pipeline import run_dedup

# +2 jobs round 4: the capture-dedup exchange in extract_docs (one url can
# now arrive with multiple warc_ts captures; collapsing to the latest adds
# one AQE-materialized shuffle whose stages account for the extra jobs) —
# a deliberate correctness cost, not an eager-action regression
MIN_MODE_BUDGET = 55
FULL_MODE_BUDGET = 76


def _job_count(spark, fn):
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    fn()
    return len(st.getJobIdsForGroup(None) or []) - before


@pytest.fixture()
def pages_ckpt(spark, pages_small):
    # materialize the input OUTSIDE the measured window so input prep jobs
    # don't count against the pipeline budget
    pages, _, _ = pages_small
    return pages.localCheckpoint()


def test_bench_mode_job_budget(spark, pages_ckpt, tmp_path):
    ckpt = str(tmp_path / "jc_min")

    def run():
        res = run_dedup(spark, pages_ckpt, DedupConfig(), ckpt, run_id="jc",
                        checkpoint="min", collect_metrics=False)
        res.clusters.count()

    jobs = _job_count(spark, run)
    shutil.rmtree(ckpt, ignore_errors=True)
    assert jobs <= MIN_MODE_BUDGET, (
        f"bench-mode pipeline ran {jobs} Spark jobs (budget "
        f"{MIN_MODE_BUDGET}); an eager driver action crept back into the "
        "hot path — check for .count()/.collect()/eager localCheckpoint "
        "at stage-build time"
    )


def test_full_mode_job_budget(spark, pages_ckpt, tmp_path):
    ckpt = str(tmp_path / "jc_full")

    def run():
        res = run_dedup(spark, pages_ckpt, DedupConfig(), ckpt, run_id="jc",
                        checkpoint="full", collect_metrics=True)
        res.clusters.count()

    jobs = _job_count(spark, run)
    shutil.rmtree(ckpt, ignore_errors=True)
    assert jobs <= FULL_MODE_BUDGET, (
        f"durable-mode pipeline ran {jobs} Spark jobs (budget "
        f"{FULL_MODE_BUDGET}); metrics/overflow counters must ride "
        "df.observe on the stage writes, never their own jobs"
    )
