#!/usr/bin/env python3
"""Benchmark harness.

Default mode (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
and write the full results to ``BENCH/bench_full_<$BENCH_TAG>.json``. The
``dedup_pipeline`` entry is the min wall of fresh-JVM ``--single`` children.

Other questions have their own tools: ``scripts/scaling_campaign.py`` runs
the 2v8 scaling guard, and ``perfbench/run.py --trace 1`` gives the per-stage
profile (wall, jobs, Python bytes, shuffle) of both jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Bench working dirs live on tmpfs when available: a single local disk
# ANTI-scales with concurrent writers (32 writers measured slower than 8 in
# aggregate), so disk-backed checkpoints would time the disk, not the
# pipeline. A real cluster writes checkpoints to distributed storage.
_TMPFS = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _warmup(spark) -> None:
    """Warm the JVM (codegen, parquet reader) and the Python worker pool
    (pyspark.worker + pandas + numpy import in each of the N forked workers)
    before timing. Without this the FIRST query absorbs ~6s of JVM warmup and
    the FIRST pandas-UDF query absorbs ~8s of one-time worker spinup at 32
    cores (measured: minhash_lsh_pairs 12.1s cold vs 4.0s steady-state on
    identical data) — per-query walls then measure session start order, not
    operator cost. A real cluster job amortizes both over hours of input."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` stringifies
    # the pd.Series hints, which breaks eval-type inference
    @pandas_udf("long", PandasUDFType.SCALAR)
    def _noop(s):
        return s

    spark.range(10_000, numPartitions=64).select(
        F.sum(_noop(F.col("id")))
    ).collect()


def _bench_queries(spark, sf_dir: str) -> dict[str, float]:
    """Headline queries: the dedup/text/similarity core, timed via count()."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    _warmup(spark)
    names = [
        "exact_dedup_keep_first",
        "doc_stats",
        "quality_score",
        "top_tokens",
        "ngram_jaccard_pairs",
        "minhash_lsh_pairs",
        "simhash_pairs",
        "simhash_confirmed_pairs",
        "cross_corpus_pairs",
        "cross_corpus_matches",
        "near_pairs_within_lang",
        "line_corpus_dedup",
        "doc_fingerprint",
        "knn_bruteforce",
        "embedding_dup_pairs",
        "events_running",
        "pricing_summary",
        # round-7 additions — the r6-comparable like-for-like subset is
        # everything ABOVE this comment (plus dedup_pipeline)
        "media_exact_dups",
        "mixture_sample",
        "embedding_dedup_survivors",
        "knn_lsh_exhaustive",
        # round-8 additions (doc_fingerprint above now times the md5_sql
        # oracle face — the blake2poly production face is ~4x faster)
        "knn_ivf_pq",
        "knn_ivfpq_fullprobe",
    ]
    out: dict[str, float] = {}
    cold: dict[str, float] = {}
    # Three runs per query, report the min (steady-state): the FIRST run of
    # each distinct plan pays one-time whole-stage-codegen compilation plus
    # AQE stage setup — measured ~2x on sub-10s queries at this SF, a fixed
    # cost that vanishes at production scale — and this host is a shared VM
    # whose co-tenant load swings single-run walls 2-3x (BENCH/BASELINE.md
    # round-5 status), so min-of-2 was still thin on the sub-second queries.
    # The cold wall is kept alongside so nothing is hidden.
    for name in names:
        walls = []
        for _ in range(3):
            t0 = time.monotonic()
            q[name](spark, sf_dir).count()
            walls.append(round(time.monotonic() - t0, 3))
        cold[name] = walls[0]
        out[name] = min(walls)
    return out, cold


def _run_single_child(cores, pages_path: str, workdir: str) -> dict:
    """Invoke this script's ``--single`` mode in a FRESH subprocess (fresh
    JVM) and parse its one-line JSON result ``{cores, wall_sec, docs}``."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--single",
         "--cores", str(cores), "--pages", pages_path,
         "--workdir", workdir],
        capture_output=True, text=True,
        env={**os.environ,
             "PYTHONPATH": os.path.dirname(os.path.abspath(__file__))},
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench child failed (local[{cores}], rc={proc.returncode}"
            f"):\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def _bench_pipeline(spark, pages_path: str, ckpt: str, run_id: str) -> tuple[float, int]:
    """Full dedup pipeline wall time + doc count (fresh checkpoint)."""
    from replicheck_spark.config import DedupConfig
    from replicheck_spark.plans.pipeline import run_dedup

    pages = spark.read.parquet(pages_path)
    t0 = time.monotonic()
    result = run_dedup(
        spark, pages, DedupConfig(), ckpt, run_id=run_id,
        collect_metrics=False, checkpoint="min",
    )
    result.clusters.count()
    wall = time.monotonic() - t0
    n_docs = pages.count()
    return wall, n_docs


def main_default(args) -> None:
    from replicheck_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(
        "replicheck_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2,
    )
    queries, queries_cold = _bench_queries(spark, sf_dir)
    spark.stop()

    # Flagship pipeline on a synthesized corpus sized to the SF point.
    # min-of-3 FRESH-JVM subprocess runs, identical to the per-query protocol
    # (VERDICT r5 #1: a single-run wall for the headline stat could not
    # distinguish a 60% regression from co-tenant weather — same-code runs
    # measured 22-55s the same night). Fresh process per run because the py4j
    # JVM survives SparkSession.stop(): back-to-back in-process sessions
    # share a fragmented heap and stale worker daemons (measured 2x noise).
    sf = _sf_of(sf_dir)
    n_docs = max(int((sf if sf > 0 else 0.1) * 200_000), 2000)
    from replicheck_spark.corpus import write_pages_parquet

    tmp = tempfile.mkdtemp(prefix="bench_", dir=_TMPFS)
    pipe_walls: list[float] = []
    n = n_docs
    try:
        pages_path = os.path.join(tmp, "pages.parquet")
        write_pages_parquet(pages_path, n_docs=n_docs, seed=42)

        def one_child(i: int) -> None:
            nonlocal n
            parsed = _run_single_child(
                cpus, pages_path, os.path.join(tmp, f"pipe{i}")
            )
            pipe_walls.append(parsed["wall_sec"])
            n = parsed["docs"]

        for i in range(3):
            one_child(i)
        # VERDICT r6 #2: a sustained slow window can defeat min-of-3 (r6's
        # driver triple spread 58-115s). When the triple's spread exceeds
        # 1.5x, buy up to 2 extra runs — the later ones may land in a
        # cleaner window.
        extra = 0
        while max(pipe_walls) / min(pipe_walls) > 1.5 and extra < 2:
            extra += 1
            one_child(2 + extra)
    finally:
        # a failed child must not leak the corpus + checkpoint trees on
        # RAM-backed tmpfs — that would worsen the memory pressure that
        # likely killed it
        shutil.rmtree(tmp, ignore_errors=True)
    wall = min(pipe_walls)
    queries["dedup_pipeline"] = round(wall, 3)
    total = round(sum(queries.values()), 3)

    # Full, self-contained artifact (VERDICT r7 #1): everything goes to a
    # file; stdout carries a compact (< ~1.5 KB) summary line because the
    # driver records only a 2,000-char stdout tail — BENCH_r07.json was
    # sliced mid-token into `parsed: null` by an oversized stdout line.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "queries_cold_first_run": queries_cold,
        "agg": "min_of_3_runs_per_query (cold_first_run covers the "
               "per-query entries only; the r6-comparable like-for-like "
               "subset is the first 17 + dedup_pipeline); dedup_pipeline "
               "min of >=3 fresh-JVM subprocess runs, each child warmed "
               "before timing (no cold pipeline wall is recorded); extra "
               "runs bought when wall spread > 1.5x",
        "sf": sf,
        "pipeline_docs": n,
        "pipeline_walls_all": pipe_walls,
        "pipeline_first_run": pipe_walls[0],
        "pipeline_docs_per_sec": round(n / wall, 1),
        "cpus": int(cpus),
    }
    os.makedirs("BENCH", exist_ok=True)
    full_path = os.path.join(
        "BENCH", f"bench_full_{os.environ.get('BENCH_TAG', 'last')}.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError:
        full_path = None  # read-only checkout: stdout summary still stands

    compact = {k: full[k] for k in ("metric", "value", "unit", "queries",
                                    "sf", "pipeline_docs",
                                    "pipeline_docs_per_sec", "cpus")}
    compact["full_results"] = full_path
    print(json.dumps(compact, separators=(",", ":")))


def main_single(args) -> None:
    """One pipeline measurement in a fresh process: prints one JSON line
    {"cores": N, "wall_sec": W, "docs": D}."""
    from replicheck_spark.session import get_spark

    spark = get_spark(
        f"replicheck_bench_{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores * 2,
    )
    # warm the fresh JVM + Python worker pool BEFORE timing, so the wall
    # measures the pipeline, not process spinup — the same treatment the
    # per-query stats get (they min over runs in one warm session; a cold
    # subprocess absorbs ~6-10s of codegen + worker forks at 32 cores,
    # which is pure constant offset at any real corpus size)
    _warmup(spark)
    wall, n = _bench_pipeline(
        spark, args.pages, os.path.join(args.workdir, f"ckpt{args.cores}"),
        f"s{args.cores}",
    )
    print(json.dumps({"cores": args.cores, "wall_sec": round(wall, 2),
                      "docs": n}))
    spark.stop()


if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("--single", action="store_true",
                   help="one fresh-JVM pipeline run (the child protocol)")
    p.add_argument("--cores", type=int, default=8)
    p.add_argument("--pages", type=str)
    p.add_argument("--workdir", type=str, default="/tmp")
    a = p.parse_args()
    if a.single:
        main_single(a)
    else:
        main_default(a)
