"""The resumable stage runner of both jobs (``run_dedup``, ``jobs/curate.py``).
A committed stage (``TableIO.exists``) is read back and counted from its file
metadata (parquet footers: no Spark job); any other is built, written with a
``df.observe`` count on the write job, timed, recorded to the metrics sink and
read back with the schema it was written with (no schema-inference job).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, functions as F


class StageRunner:
    def __init__(self, io, sink=None):
        self.io, self.sink = io, sink
        self.rows: dict[str, int] = {}  # rows_out of each stage, in run order
        self.resumed: set[str] = set()  # stages read back, not built this run

    def run(self, name: str, build, upstream: str | None = None) -> DataFrame:
        """Run (or resume) stage ``name``: ``build() -> DataFrame``.
        ``upstream`` (default: the stage run last, as in a chain) names the
        stage whose rows_out is this stage's rows_in; -1 without one."""
        io = self.io
        upstream = upstream or next(reversed(self.rows), None)
        if io.exists(name):
            self.rows[name] = sum(io.file_row_counts(name))
            self.resumed.add(name)
            return io.read(name)
        t0, obs = time.monotonic(), Observation()
        df = build().observe(obs, F.count(F.lit(1)).alias("rows_out"))
        io.write(name, df)
        self.rows[name] = int(obs.get["rows_out"])
        if self.sink is not None:
            self.sink.record_stage(name, self.rows.get(upstream, -1),
                                   self.rows[name],
                                   int((time.monotonic() - t0) * 1000))
        return io.read(name, schema=df.schema)
