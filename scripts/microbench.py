#!/usr/bin/env python3
"""Platform scaling-envelope microbenchmarks.

Measures how two Spark *primitives* — the building blocks every stage of the
dedup pipeline is made of — scale with local[N] parallelism on THIS host:

* ``udf``: pure Arrow-batched Python compute, no shuffle
  (``range -> pandas UDF (numpy work) -> sum``).
* ``shuffle``: pure exchange + aggregation, no Python
  (rows with a sha256 payload -> one hash-partitioned exchange -> count).

Neither primitive contains any replicheck_spark code, so their N -> 4N
efficiency is a property of the machine (memory bandwidth, GC, scheduler),
not of the engine's dataflow. The full pipeline's measured efficiency is
judged against this envelope in BENCH/BASELINE.md: a pipeline that scales as
well as the best primitive has no composition loss left to remove.

Each measurement runs in a fresh subprocess (fresh JVM), levels interleaved,
best-of-``--repeats`` per level — same methodology as
``scripts/scaling_campaign.py``.

Usage::

    python scripts/microbench.py --n-low 8 --n-high 32 --repeats 2
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_udf(spark, rows: int) -> float:
    """range -> Arrow-batched pandas UDF doing real numpy work -> sum."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: stringified type hints break inference here
    @pandas_udf("long", PandasUDFType.SCALAR)
    def crunch(s: pd.Series) -> pd.Series:
        a = s.to_numpy(dtype=np.uint64, copy=True)
        # a few dependent passes so the batch is compute-, not transfer-bound
        for _ in range(8):
            a = a * np.uint64(0x9E3779B97F4A7C15) ^ (a >> np.uint64(7))
        # mask to 20 bits so the ANSI-mode long sum cannot overflow
        return pd.Series((a & np.uint64(0xFFFFF)).astype("int64"))

    t0 = time.monotonic()
    spark.range(rows, numPartitions=256).select(
        F.sum(crunch(F.col("id")))
    ).collect()
    return time.monotonic() - t0


def run_udftext(spark, rows: int) -> float:
    """Payload-heavy Arrow UDF: ~1 KB synthetic text per row through the
    Python worker (tokenize-ish string work), the traffic pattern of the
    pipeline's extraction/signature stages — unlike ``udf``, which moves only
    8-byte ids and therefore measures compute scaling at near-zero memory
    traffic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("long", PandasUDFType.SCALAR)
    def toklen(s: pd.Series) -> pd.Series:
        # one flattened byte buffer per Arrow batch, then vectorized numpy
        # passes over it — the batched-flat pattern of the signature UDF
        joined = np.frombuffer("\n".join(s.tolist()).encode(), dtype=np.uint8)
        acc = joined.astype(np.uint64)
        for _ in range(4):
            acc = acc * np.uint64(0x9E3779B97F4A7C15) ^ (acc >> np.uint64(7))
        val = int((acc & np.uint64(0xFFFF)).sum() % 0xFFFF)
        return pd.Series(np.full(len(s), val, dtype="int64"))

    text = F.concat_ws(
        " ", *[F.concat(F.lit("tok"), (F.col("id") + F.lit(i)).cast("string"))
               for i in range(96)]
    )
    t0 = time.monotonic()
    spark.range(rows, numPartitions=256).select(
        F.sum(toklen(text))
    ).collect()
    return time.monotonic() - t0


def run_shuffle(spark, rows: int) -> float:
    """JVM-only: wide rows -> one hash exchange on a high-card key -> agg."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    (
        spark.range(rows, numPartitions=256)
        .select(
            (F.col("id") % 1_000_000).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.max("payload").alias("m"))
        .select(F.sum("n"))
        .collect()
    )
    return time.monotonic() - t0


def _master_total_cores(master: str) -> int:
    import re

    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m:
        return int(m.group(1))
    m = re.fullmatch(r"local-cluster\[(\d+),(\d+),\d+\]", master)
    if m:
        return int(m.group(1)) * int(m.group(2))
    raise ValueError(f"unsupported master {master!r}")


def main_single(args) -> None:
    from replicheck_spark.session import get_spark

    master = args.master or f"local[{args.cores}]"
    spark = get_spark(
        f"microbench_{args.primitive}_{args.cores}",
        master=master,
        shuffle_partitions=256,
    )
    fn = {"udf": run_udf, "udftext": run_udftext,
          "shuffle": run_shuffle}[args.primitive]
    fn(spark, min(args.rows, 1_000_000))  # warm JIT/codegen/worker pool
    wall = fn(spark, args.rows)
    print(json.dumps({"primitive": args.primitive, "cores": args.cores,
                      "wall_sec": round(wall, 2)}))
    spark.stop()


def main(args) -> None:
    # master strings for the two levels: explicit (--master-low/high, e.g.
    # local-cluster[1,8,16384] vs local-cluster[4,8,16384] for the multi-JVM
    # envelope) or the classic local[N] pair from --n-low/--n-high
    m_lo = args.master_low or f"local[{args.n_low}]"
    m_hi = args.master_high or f"local[{args.n_high}]"
    lo, hi = _master_total_cores(m_lo), _master_total_cores(m_hi)

    def measure(primitive: str, master: str) -> float:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--single",
             "--primitive", primitive, "--master", master,
             "--rows", str(args.rows)],
            capture_output=True, text=True,
            env={**os.environ, "PYTHONPATH": REPO},
        )
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            raise RuntimeError(
                f"microbench child failed ({primitive}, {master}, "
                f"rc={proc.returncode}):\n{proc.stderr[-2000:]}"
            )
        return json.loads(lines[-1])["wall_sec"]

    out = {}
    primitives = (args.only,) if args.only else ("udf", "udftext", "shuffle")
    for primitive in primitives:
        walls: dict[str, list[float]] = {m_lo: [], m_hi: []}
        # interleave with alternating block order (lo-hi, hi-lo, ...) for any
        # repeat count — a fixed 6-element order silently capped repeats at 3
        order = [
            m
            for i in range(args.repeats)
            for m in ([m_lo, m_hi] if i % 2 == 0 else [m_hi, m_lo])
        ]
        for master in order:
            w = measure(primitive, master)
            walls[master].append(w)
            print(f"[microbench] {primitive} {master}: {w:.2f}s", flush=True)
        eff = (min(walls[m_lo]) / min(walls[m_hi])) / (hi / lo)
        out[primitive] = {
            m_lo: min(walls[m_lo]),
            m_hi: min(walls[m_hi]),
            "all_walls": walls,
            "efficiency": round(eff, 3),
        }
    print(json.dumps({"rows": args.rows, "n_low": lo, "n_high": hi, **out}))


if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("--single", action="store_true")
    p.add_argument("--primitive", choices=["udf", "udftext", "shuffle"])
    p.add_argument("--only", choices=["udf", "udftext", "shuffle"],
                   help="run just one primitive (lets each use its own --rows)")
    p.add_argument("--cores", type=int, default=8)
    p.add_argument("--master", default=None,
                   help="(single mode) full master string; overrides --cores")
    p.add_argument("--master-low", default=None,
                   help="master string for the low level (e.g. "
                   "local-cluster[1,8,16384]); overrides --n-low")
    p.add_argument("--master-high", default=None,
                   help="master string for the high level")
    p.add_argument("--rows", type=int, default=64_000_000)
    p.add_argument("--n-low", type=int, default=8)
    p.add_argument("--n-high", type=int, default=32)
    p.add_argument("--repeats", type=int, default=2)
    a = p.parse_args()
    if a.single:
        main_single(a)
    else:
        main(a)
