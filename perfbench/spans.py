"""Spans and Spark status-store counters around the program's layer calls.

Nothing here is part of the program. For the length of one call,
``traced_layers`` wraps public entry points of the program:

* the layer functions the jobs call (``LAYER_CALLS``), so eager work in a
  stage's build, such as connected-components rounds, lands in its layer;
* ``TableIO.write``, one span per checkpointed stage, named after the
  stage's layer (``STAGE_LAYER``);
* ``MetricsSink.record_stage`` / ``record_totals``, the metrics-sink layer;
* ``SparkSession.stop``, which closes the root span while the status store
  still exists (the curate job stops its own session).

Every span runs under its own Spark job group, so the jobs, stages and SQL
executions it launched can be read back from Spark's status store when it
ends:

* jobs          -- ``statusTracker().getJobIdsForGroup``
* shuffle/spill -- ``AppStatusStore.lastStageAttempt`` of each stage the span ran
* Python bytes  -- the SQL metrics "data sent to / returned from Python
                   workers" and "time to run Python workers" of each SQL
                   execution whose jobs belong to the span
* rows / bytes  -- parquet footers and file sizes of the stage directory the
                   span wrote

Spans are kept in memory and written out once, by the caller.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import time

# checkpointed stage -> the module (layer) whose operators build it
STAGE_LAYER = {
    "docs": "extract",
    "signatures": "signatures",
    "exact_groups": "exact",
    "exact_edges": "exact",
    "cand_pairs": "lsh",
    "near_edges": "confirm",
    "substr_edges": "substr",
    "edges": "pipeline",
    "labels": "components",
    "clusters": "components",
    "filtered": "textops",
    "scrubbed": "textops",
    "line_dedup": "blocks",
    "curated": "dedup_ops",
}

COUNTERS = ("wall_s", "jobs", "rows_out", "py_in_mb", "py_out_mb",
            "py_time_s", "shuffle_mb", "spill_mb", "ckpt_mb")

_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_PY_TIME = "time to run Python workers"
_SEP = "\u0001"
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
MIB = float(1 << 20)


def _metric_total(text: str) -> str:
    """Total of a formatted SQL metric: a single value, or the first value
    of the second line of a 'total (min, med, max ...)' block."""
    lines = text.strip().split("\n")
    return lines[1].split(" (")[0] if len(lines) > 1 else lines[0]


def parse_size(text: str) -> float:
    num, unit = _metric_total(text).split()
    return float(num) * _SIZE_UNITS[unit]


def parse_seconds(text: str) -> float:
    num, unit = _metric_total(text).split()
    return float(num) * _TIME_UNITS[unit]


def dir_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of a parquet directory: rows from the footers of its
    data files, bytes of every file on disk (markers and checksums too)."""
    import pyarrow.parquet as pq

    rows = size = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            size += os.path.getsize(p)
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
    return rows, size


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "group", "start", "end",
                 "out_dir", "counters", "job_sites", "prev_group")

    def __init__(self, sid, name, layer, parent, group, start, out_dir):
        self.sid, self.name, self.layer, self.parent = sid, name, layer, parent
        self.group, self.start, self.end = group, start, None
        self.out_dir = out_dir
        self.counters: dict[str, float] = {}
        self.job_sites: dict[str, int] = {}   # job call site -> jobs

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "layer": self.layer,
                "parent": self.parent, "start": self.start, "end": self.end,
                "counters": self.counters, "job_sites": self.job_sites}


class Tracer:
    """Spans of one traced call. ``trace_id`` is shared by all its spans."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._exec_done = 0          # executions of the current app consumed
        self._app_id = None
        self._pending: list[tuple[int, set[int]]] = []

    # -- span lifecycle ---------------------------------------------------
    def open(self, name: str, layer: str | None, out_dir: str | None = None):
        sc = _active_context()
        parent = self._stack[-1].sid if self._stack else None
        sid = len(self.spans)
        group = f"{self.trace_id}:{sid}:{name}"
        span = Span(sid, name, layer, parent, group,
                    time.perf_counter() - self.t0, out_dir)
        span.prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        if span.end is not None:
            return
        while self._stack and self._stack[-1] is not span:
            self.close(self._stack[-1])
        span.end = time.perf_counter() - self.t0
        sc = _active_context()
        self._collect(sc, span)
        sc.setLocalProperty("spark.jobGroup.id", span.prev_group)
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None,
             out_dir: str | None = None):
        s = self.open(name, layer, out_dir)
        try:
            yield s
        finally:
            self.close(s)

    def close_all(self) -> None:
        while self._stack:
            self.close(self._stack[0])

    # -- counters -----------------------------------------------------------
    def _collect(self, sc, span: Span) -> None:
        from py4j.protocol import Py4JJavaError

        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = set(sc.statusTracker().getJobIdsForGroup(span.group))
        store = jsc.statusStore()
        shuffle = spill = 0
        for jid in sorted(jobs):
            site = store.job(jid).name()
            span.job_sites[site] = span.job_sites.get(site, 0) + 1
            info = sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never ran (skipped): no data
                    continue
                shuffle += st.shuffleWriteBytes()
                spill += st.diskBytesSpilled()
        py_in = py_out = py_time = 0.0
        for eid, ex_jobs in self._new_executions(sc):
            if ex_jobs & jobs or (not ex_jobs and span is self._stack[0]):
                a, b, c = self._exec_python(eid)
                py_in, py_out, py_time = py_in + a, py_out + b, py_time + c
            else:
                self._pending.append((eid, ex_jobs))
        c = span.counters
        c["wall_s"] = span.end - span.start
        c["jobs"] = len(jobs)
        c["py_in_mb"] = py_in / MIB
        c["py_out_mb"] = py_out / MIB
        c["py_time_s"] = py_time
        c["shuffle_mb"] = shuffle / MIB
        c["spill_mb"] = spill / MIB
        if span.out_dir is not None:
            rows, size = dir_stats(span.out_dir)
            c["rows_out"] = rows
            c["ckpt_mb"] = size / MIB

    def _new_executions(self, sc):
        """SQL executions not yet attributed, with their job ids.

        Executions whose jobs belong to no span closed so far stay pending
        and are offered again to the next span that closes (the enclosing
        span closes last, so everything is attributed exactly once). The
        offsets assume the store still holds every execution of the app: a
        run makes a few hundred, under the 1000 Spark retains by default."""
        if self._app_id != sc.applicationId:
            self._app_id, self._exec_done, self._pending = (
                sc.applicationId, 0, [])
        sql = _sql_store()
        count = sql.executionsCount()
        fresh = []
        if count > self._exec_done:
            seq = sql.executionsList(self._exec_done, count - self._exec_done)
            for i in range(seq.size()):
                ex = seq.apply(i)
                keys = ex.jobs().keys().mkString(",")
                fresh.append((ex.executionId(),
                              {int(k) for k in keys.split(",") if k}))
            self._exec_done = count
        pending, self._pending = self._pending, []
        return pending + fresh

    def _exec_python(self, eid: int) -> tuple[float, float, float]:
        sql = _sql_store()
        ex = sql.execution(eid)
        if ex.isEmpty():
            return 0.0, 0.0, 0.0
        wanted: dict[int, str] = {}
        for item in ex.get().metrics().mkString(_SEP).split(_SEP):
            m = _PLAN_METRIC.match(item)
            if m and m.group(1) in (_PY_SENT, _PY_BACK, _PY_TIME):
                wanted[int(m.group(2))] = m.group(1)
        if not wanted:
            return 0.0, 0.0, 0.0
        sent = back = secs = 0.0
        for item in sql.executionMetrics(eid).mkString(_SEP).split(_SEP):
            acc, _, value = item.partition(" -> ")
            name = wanted.get(int(acc)) if acc.strip().isdigit() else None
            if name == _PY_SENT:
                sent += parse_size(value)
            elif name == _PY_BACK:
                back += parse_size(value)
            elif name == _PY_TIME:
                secs += parse_seconds(value)
        return sent, back, secs

    # -- results ------------------------------------------------------------
    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Counters summed per layer over the layer's spans."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.layer is None:
                continue
            acc = out.setdefault(s.layer, dict.fromkeys(COUNTERS, 0.0))
            nested = (s.parent is not None
                      and self.spans[s.parent].layer == s.layer)
            for k, v in s.counters.items():
                if not (k == "wall_s" and nested):
                    acc[k] = acc.get(k, 0.0) + v
        return out

    def as_records(self) -> list[dict]:
        return [dict(s.as_dict(), trace=self.trace_id) for s in self.spans]


def _sql_store():
    from pyspark.sql import SparkSession

    return (SparkSession.getActiveSession()._jsparkSession.sharedState()
            .statusStore())


def _active_context():
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("no active SparkContext while tracing")
    return sc


# The layer functions each job calls, patched where the job looks them up:
# the pipeline imported them into its own namespace; the curate job imports
# them from their modules when main() runs. Eager work in a stage's build
# (connected-components rounds, for one) runs here, before the stage's write.
LAYER_CALLS = (
    ("replicheck_spark.plans.pipeline", "extract_docs", "extract"),
    ("replicheck_spark.plans.pipeline", "eligible_docs", "extract"),
    ("replicheck_spark.plans.pipeline", "compute_signatures", "signatures"),
    ("replicheck_spark.plans.pipeline", "exact_groups", "exact"),
    ("replicheck_spark.plans.pipeline", "exact_edges_from_groups", "exact"),
    ("replicheck_spark.plans.pipeline", "exact_edges", "exact"),
    ("replicheck_spark.plans.pipeline", "explode_bands", "lsh"),
    ("replicheck_spark.plans.pipeline", "candidate_pairs", "lsh"),
    ("replicheck_spark.plans.pipeline", "confirm_pairs", "confirm"),
    ("replicheck_spark.plans.pipeline", "anchor_pairs", "substr"),
    ("replicheck_spark.plans.pipeline", "substr_edges", "substr"),
    ("replicheck_spark.plans.pipeline", "connected_components", "components"),
    ("replicheck_spark.plans.pipeline", "clusters_from_labels", "components"),
    ("replicheck_spark.operators.extract", "extract_docs", "extract"),
    ("replicheck_spark.operators.textops", "corpus_filter", "textops"),
    ("replicheck_spark.operators.textops", "pii_scrub", "textops"),
    ("replicheck_spark.operators.blocks", "line_corpus_dedup", "blocks"),
    ("replicheck_spark.operators.dedup_ops", "cluster_labels", "dedup_ops"),
)


@contextlib.contextmanager
def traced_layers(tracer: Tracer, root_name: str):
    """Trace one call: a root span, and one span per layer-function call,
    stage write and metrics-sink call. The root is closed before any
    ``spark.stop()``."""
    import importlib

    from pyspark.sql import SparkSession

    from replicheck_spark.plans.metrics import MetricsSink
    from replicheck_spark.sources.io import TableIO

    def traced(fn, name, layer):
        @functools.wraps(fn)
        def call(*a, **kw):
            with tracer.span(name, layer):
                return fn(*a, **kw)
        return call

    orig_write, orig_stop = TableIO.write, SparkSession.stop

    def write(io, stage, df, partitions=None):
        out_dir = os.path.join(io.root, io.run_id, stage)
        with tracer.span(f"write:{stage}", STAGE_LAYER.get(stage, stage),
                         out_dir):
            return orig_write(io, stage, df, partitions)

    def stop(session):
        tracer.close_all()
        return orig_stop(session)

    patches = [(TableIO, "write", write), (SparkSession, "stop", stop)]
    for fn in ("record_stage", "record_totals"):
        patches.append((MetricsSink, fn, traced(
            getattr(MetricsSink, fn), f"metrics:{fn}", "metrics")))
    for module, fn, layer in LAYER_CALLS:
        owner = importlib.import_module(module)
        patches.append((owner, fn, traced(getattr(owner, fn), fn, layer)))
    originals = [(owner, name, getattr(owner, name))
                 for owner, name, _ in patches]
    for owner, name, wrapper in patches:
        setattr(owner, name, wrapper)
    try:
        with tracer.span(root_name, None):
            yield tracer
    finally:
        for owner, name, fn in originals:
            setattr(owner, name, fn)
