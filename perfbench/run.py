#!/usr/bin/env python3
"""Benchmark of the replicheck_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_batch --seed 7 --seconds 10 --trace 0

One run: make the workload's inputs from ``--seed``, start a Spark session on
``local[<usable cores>]`` with the program's defaults, warm it by running the
workload's own call path once on a small corpus from another seed (set-up),
then call the program in a closed loop for ``--seconds`` seconds (at least
once) and check every call's output against the pure-Python oracle. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` adds
one traced call and reports the per-layer metrics (see README.md).

Everything the run writes lives in ``.bench_work/<run>/`` of the checkout and is
removed when the run ends; a traced run also leaves its spans in
``.bench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "batch_p50_s": "s",
    "pair_recall": "ratio", "pair_precision": "ratio", "ok_frac": "ratio",
    "ckpt_mb": "MiB",
}

STAGE_LAYERS = ("extract", "signatures", "exact", "lsh", "confirm", "substr",
                "pipeline", "components")
CURATE_LAYERS = ("textops", "blocks", "dedup_ops")
COUNTER_UNITS = {"wall_s": "s", "jobs": "count", "rows_out": "rows",
                 "py_in_mb": "MiB", "py_out_mb": "MiB", "py_time_s": "s",
                 "shuffle_mb": "MiB", "spill_mb": "MiB", "ckpt_mb": "MiB"}
CURATE_COUNTERS = ("wall_s", "jobs", "rows_out", "py_in_mb", "shuffle_mb",
                   "ckpt_mb")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit (BENCHMARK.json lists the same)."""
    units = {f"{layer}.{c}": u for layer in STAGE_LAYERS
             for c, u in COUNTER_UNITS.items()}
    units.update({f"{layer}.{c}": COUNTER_UNITS[c] for layer in CURATE_LAYERS
                  for c in CURATE_COUNTERS})
    units.update({
        "metrics.wall_s": "s", "metrics.jobs": "count",
        "lsh.capped_dropped": "count", "substr.anchor_rows": "rows",
        "substr.anchor_dropped": "count", "confirm.yield": "ratio",
        "call.wall_s": "s", "call.jobs": "count", "trace.overhead_s": "s",
        "process.peak_rss_mb": "MiB",
    })
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- process tree -------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss(threading.Thread):
    """Samples the RSS summed over this process and its descendants (the
    Spark JVM and its Python workers) until stopped; keeps the peak."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop_evt.wait(self.interval):
                return

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def _cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs:
    a slow call with high steal was slowed by the host, not the program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _wait_children_gone(timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    while len(_tree_pids(os.getpid())) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError("child processes still running after stop")
        time.sleep(0.2)


# -- Spark session ------------------------------------------------------------

class Session:
    """The benchmark's Spark session: program defaults on local[<cores>],
    with the JVM's temp files kept inside the run's work dir."""

    def __init__(self, work: str):
        self.cores = len(os.sched_getaffinity(0))
        self.conf = {"spark.driver.extraJavaOptions":
                     f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"}
        self.spark = None

    def get(self):
        """The live session; a new one if the last call stopped it."""
        from replicheck_spark.session import get_spark

        if self.spark is None or self.spark.sparkContext._jsc is None:
            self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                                   extra_conf=self.conf)
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for both."""
        import subprocess

        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()          # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -- one run ------------------------------------------------------------------

def _program_counters(call) -> dict[str, float]:
    """Cap and anchor counters the program wrote to its ``_metrics`` table."""
    from workloads import read_columns

    path = os.path.join(call.out_dir, "_metrics")
    out = {"lsh.capped_dropped": 0, "substr.anchor_rows": 0,
           "substr.anchor_dropped": 0}
    if not os.path.isdir(path):
        return out
    for r in read_columns(path, ["stage", "partition_id", "rows_out",
                                 "dropped"]):
        if r["partition_id"] != -1:
            continue
        if r["stage"] == "cands_capped":
            out["lsh.capped_dropped"] += r["dropped"]
        elif r["stage"] == "substr_anchors":
            out["substr.anchor_rows"] += max(r["rows_out"], 0)
            out["substr.anchor_dropped"] += r["dropped"]
    return out


def _layer_metrics(tracer, traced_call, untraced_walls) -> dict[str, float]:
    metrics = dict.fromkeys(per_layer_units(), 0.0)
    for layer, counters in tracer.layer_totals().items():
        for c, v in counters.items():
            if f"{layer}.{c}" in metrics:
                metrics[f"{layer}.{c}"] = v
    lsh_rows = metrics["lsh.rows_out"]
    metrics["confirm.yield"] = (metrics["confirm.rows_out"] / lsh_rows
                                if lsh_rows else 0.0)
    metrics.update(_program_counters(traced_call))
    metrics["call.wall_s"] = traced_call.wall_s
    metrics["call.jobs"] = sum(s.counters.get("jobs", 0)
                               for s in tracer.spans)
    metrics["trace.overhead_s"] = (traced_call.wall_s
                                   - statistics.median(untraced_walls))
    return metrics


def _dir_mib(path: str) -> float:
    from spans import MIB, dir_stats

    return dir_stats(path)[1] / MIB


def run(args, work: str) -> dict:
    from spans import Tracer, traced_layers
    from workloads import PASS_AT, WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    session = Session(work)
    # sampled only in traced runs: its metric is a per-layer one
    rss = PeakRss() if args.trace else None
    if rss:
        rss.start()
    phases = {}
    try:
        t0 = time.perf_counter()
        wl.prepare()
        t1 = time.perf_counter()
        session.get()
        t2 = time.perf_counter()
        wl.warm_up(session.get())
        session.get()
        t3 = time.perf_counter()
        setup_s = t3 - t1
        phases.update(prepare=t1 - t0, session=t2 - t1, warm_up=t3 - t2)

        calls, failed = [], 0
        t_loop, steal0 = time.perf_counter(), _cpu_steal_s()
        while not calls or time.perf_counter() - t_loop < args.seconds:
            try:
                calls.append(wl.call(session.get(), len(calls)))
            except Exception:
                traceback.print_exc()
                failed += 1
                break
        walls = [c.wall_s for c in calls]
        phases["steal_in_calls"] = _cpu_steal_s() - steal0

        tracer = traced = None
        if args.trace and calls:
            tracer = Tracer(f"{args.workload}-{args.seed}")
            spark = session.get()
            with traced_layers(tracer, f"call:{args.workload}"):
                traced = wl.call(spark, len(calls))
            calls.append(traced)
        t4 = time.perf_counter()
    finally:
        session.shutdown()
        peak_rss = rss.stop() if rss else 0
    _wait_children_gone()
    t5 = time.perf_counter()

    if not calls:
        raise RuntimeError("no call into the program completed")
    # oracle checks, outside every timed and set-up window
    scores = [wl.check(c) for c in calls]
    phases.update(calls=t4 - t3, shutdown=t5 - t4,
                  check=time.perf_counter() - t5)
    ok = sum(1 for r, p in scores if r >= PASS_AT and p >= PASS_AT)
    attempted = len(calls) + failed
    failed = attempted - ok
    print(f"\nperfbench {args.workload} seed={args.seed}: {len(walls)} timed "
          f"call(s), walls={[round(w, 3) for w in walls]} s, "
          f"setup={setup_s:.3f} s, scores={scores}, phases="
          f"{ {k: round(v, 1) for k, v in phases.items()} }", file=sys.stderr)

    if tracer is not None:
        metrics = _layer_metrics(tracer, traced, walls)
        metrics["process.peak_rss_mb"] = peak_rss / (1 << 20)
        _write_trace(args, tracer, metrics)
        units = per_layer_units()
    else:
        p50 = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": calls[0].docs / p50,
            "batch_p50_s": p50,
            "pair_recall": min(r for r, _ in scores),
            "pair_precision": min(p for _, p in scores),
            "ok_frac": ok / attempted,
            "ckpt_mb": statistics.median(_dir_mib(c.out_dir) for c in calls),
        }
        units = E2E_UNITS
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }


def _write_trace(args, tracer, metrics) -> None:
    out = os.path.join(ROOT, ".bench_traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": tracer.as_records(), "metrics": metrics}, f,
                  indent=1)
    print(f"perfbench: spans written to {path}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, ROOT)
    try:
        import replicheck_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    # Python and Spark temp files, Spark's local dirs and the Python workers'
    # import path all point into the checkout.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # Only the result line goes to stdout: anything else written to fd 1 (the
    # program's reports, the JVM, Python workers) is sent to stderr.
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
