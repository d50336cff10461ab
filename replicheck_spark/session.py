"""SparkSession factory with the engine's standard configuration.

AQE on (runtime coalescing + skew-join splitting), Arrow on (every Python
crossing is vectorized), UTC, pinned shuffle partitions for determinism in
tests. Local mode is the sandbox proxy for a cluster: ``local[N]`` = one JVM,
N executor threads (the scaling guard runs the same job at local[2] vs
local[8] through scripts/scaling_campaign.py, see BENCH/BASELINE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _master_cores(master: str) -> int:
    """Core count implied by a local[...] master; machine width otherwise."""
    import re

    m = re.fullmatch(r"local\[(\d+)\]", master)
    return int(m.group(1)) if m else (os.cpu_count() or 8)


def get_spark(
    app_name: str = "replicheck_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # An EXPLICITLY pinned shuffle count (arg or env — the scaling campaign's
    # --shuffle pins it at both levels for identical-plan runs) must also
    # pin AQE's initialPartitionNum: initialPartitionNum OVERRIDES
    # spark.sql.shuffle.partitions for every AQE-coalesced shuffle, so
    # without this the per-core 32x default would silently give local[2] vs
    # local[8] different initial partitioning and void the identical-plan
    # guarantee. Unpinned sessions keep the volume-tracking 32x default.
    pinned = shuffle_partitions is not None or bool(
        os.environ.get("SPARK_GRAFT_SHUFFLE")
    )
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep post-shuffle parallelism at small data volumes: the defaults
        # (64MB advisory target) coalesce a <100MB shuffle down to 1-2
        # partitions, serializing every downstream operator no matter how
        # many cores exist. At production volumes these floors are no-ops.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4m"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION", "256k"),
        )
        # AQE coalescing can only merge shuffle partitions DOWN — it never
        # splits an undersized one. A fixed spark.sql.shuffle.partitions is
        # therefore a hard ceiling that silently turns into oversized,
        # spill-prone partitions as data grows (measured: the 1.6M-doc
        # pipeline ran 2.5x slower at 16 shuffle partitions than at 64 on
        # identical hardware — per-core throughput HALVED vs the 400k run
        # purely from partition pressure). Start every shuffle at a high
        # initial count and let AQE coalesce to the advisory size, so
        # partition granularity tracks data volume instead of a constant.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS",
                # pinned sessions: match the pinned shuffle count exactly;
                # otherwise 32x the session's core count — always well above
                # the ~8 task waves the advisory sizing converges to, without
                # a fixed 4-digit bucket constant on 2-core test sessions
                str(shuffle_partitions if pinned else 32 * _master_cores(master)),
            ),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Small-scale-friendly scan splitting: at sandbox sizes the default
        # 128MB/4MB would pack a whole checkpoint into ONE split and serialize
        # every UDF stage on one core. Production (multi-GB files) overrides
        # via env; the values only change split granularity, not semantics.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "512k"),
        )
        # local mode = ONE JVM holding all executors, shuffles and
        # localCheckpoints; an undersized heap turns every array-heavy stage
        # into a GC storm. Size to the machine (this sandbox has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    # IO-compression experiment knob (scaling campaigns): the 8->32 plateau
    # is DRAM-bus-bound (BENCH/BASELINE.md), so a heavier codec (zstd) that
    # trades spare CPU for fewer shuffle/spill/broadcast bytes on the bus is
    # a scaling lever worth measuring. Unset = Spark's default (lz4).
    codec = os.environ.get("SPARK_GRAFT_IO_CODEC")
    if codec:
        b = b.config("spark.io.compression.codec", codec)
    # Shuffle + spill on tmpfs when available: this sandbox's disk is shared
    # and slow/noisy; RAM-backed local dirs remove disk from the data path
    # entirely (a real cluster would use local NVMe instead).
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if shm is None and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark_local"
    if shm:
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    # local-cluster[N,C,M] (the multi-JVM scaling proxy: N separate executor
    # heaps/GCs instead of local mode's single shared JVM) needs three confs
    # local mode does not: executor memory must match the worker's offer (M
    # MB from the master string — the 1g default would waste the worker),
    # executor python workers must find this package (executors are fresh
    # JVMs; cloudpickled pandas UDFs import replicheck_spark by reference),
    # and standalone workers read SPARK_LOCAL_DIRS env, not spark.local.dir.
    import re as _re

    lc = _re.fullmatch(r"local-cluster\[(\d+),(\d+),(\d+)\]", master)
    if lc:
        mem_mb = int(lc.group(3))
        b = b.config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", f"{mem_mb}m"),
        )
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = b.config(
            "spark.executorEnv.PYTHONPATH",
            os.environ.get("PYTHONPATH") or repo_root,
        )
        if shm:
            os.environ.setdefault("SPARK_LOCAL_DIRS", shm)
        import sys as _sys

        os.environ.setdefault("PYSPARK_PYTHON", _sys.executable)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
