"""The shuffle writer every ``get_spark`` session plans.

Spark's sort shuffle takes the bypass-merge writer when an exchange has no
map-side combine and at most ``spark.shuffle.sort.bypassMergeThreshold``
(default 200) reduce partitions: each map task then writes one file per
reduce partition and concatenates them. Sessions start their exchanges at
``32 x cores`` partitions (128 on 4 cores), or at a pinned count (8 in the
test session, 64 in the scaling guard), all under 200. On a 4-core box with
disk-backed local dirs the serialized sort writer (one data file plus an
index per map task) ran a two-level ``collect_list`` aggregation over 22k
rows in 0.39-0.45 s against 0.49-0.63 s, and the 2,000-doc ``run_dedup``
call at a median 175.8 against 158.7 docs/s over 20 pairs, with identical
outputs (BENCH/BASELINE.md, round 10).
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from replicheck_spark import session

THRESHOLD = "spark.shuffle.sort.bypassMergeThreshold"
SPARK_DEFAULT_THRESHOLD = "200"


class _Recorder:
    """Stands in for ``SparkSession.builder``: keeps the confs get_spark sets."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, master):
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


@pytest.mark.parametrize(
    "shuffle_partitions, env",
    [(None, {}), (8, {}), (None, {"SPARK_GRAFT_SHUFFLE": "64"})],
    ids=["default", "pinned_8", "env_pinned_64"],
)
def test_no_session_can_take_the_bypass_merge_writer(
    monkeypatch, shuffle_partitions, env
):
    for key in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_INITIAL_PARTITIONS"):
        monkeypatch.delenv(key, raising=False)
    for key, value in env.items():
        monkeypatch.setenv(key, value)
    rec = _Recorder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=rec))
    session.get_spark(shuffle_partitions=shuffle_partitions)
    planned = min(
        int(rec.conf["spark.sql.shuffle.partitions"]),
        int(rec.conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]),
    )
    assert int(rec.conf.get(THRESHOLD, SPARK_DEFAULT_THRESHOLD)) < planned


def test_live_session_carries_the_threshold(spark):
    """The conf reaches the JVM of the shared test session (8 partitions)."""
    conf = spark.sparkContext.getConf()
    assert int(conf.get(THRESHOLD, SPARK_DEFAULT_THRESHOLD)) < int(
        spark.conf.get("spark.sql.shuffle.partitions"))
