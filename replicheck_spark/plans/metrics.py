"""Per-stage / per-partition lineage counters -> metrics table.

Schema (FIXTURES.md §3): run_id, stage, partition_id, rows_in, rows_out,
dropped, wall_ms. Recording launches no Spark job. A stage gets one row per
file of its committed output, counted from the parquet footers
(``TableIO.file_row_counts``; ``partition_id`` = file index in write order),
plus a total row: the write's ``df.observe`` count, which the file counts must
sum to. Each record call is one parquet file the driver writes with pyarrow
under a ``.``-prefixed name, then renames, so a killed append leaves nothing
Spark or pyarrow would read. Both jobs record through the stage runner
(``plans/stages.py``): built stages only, rows_in = the upstream's count (its
footers' if resumed). Unlike the reference (tqdm progress, silent per-file
error suppression, cli.py:99, runner.py:90-92), caps and drops land here;
unknown counts (rows_in of the raw input) are -1, never fabricated.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_schema

METRICS_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("run_id", "stage")]
    + [T.StructField("partition_id", T.IntegerType())]
    + [T.StructField(c, T.LongType())
       for c in ("rows_in", "rows_out", "dropped", "wall_ms")]
)
ARROW_SCHEMA = to_arrow_schema(METRICS_SCHEMA)


class LineageMismatchError(RuntimeError):
    """A stage's output files disagree with its write's observed count."""


class MetricsSink:
    def __init__(self, io, path: str):
        self.io, self.path = io, path
        # a relative local path resolves against the cwd, as in Spark
        self.fs, self.root = pafs.FileSystem.from_uri(
            path if ":" in path else os.path.abspath(path))

    def record_stage(self, stage: str, rows_in: int, rows_out: int,
                     wall_ms: int) -> None:
        """One row per output file of ``stage`` + a stage-total row carrying
        the caller's write-time ``df.observe`` count ``rows_out``.
        ``dropped`` is 0: a stage's filtering shows as rows_in - rows_out,
        and caps are recorded through ``record_totals``."""
        per_file = self.io.file_row_counts(stage)
        if sum(per_file) != rows_out:
            raise LineageMismatchError(
                f"stage {stage!r}: output files hold {sum(per_file)} rows, "
                f"its write observed {rows_out}")
        self._append(stage, [(pid, rows_in, n, 0, wall_ms)
                             for pid, n in enumerate(per_file)]
                     + [(-1, rows_in, rows_out, 0, wall_ms)])

    def record_totals(self, stage: str, rows_out: int = -1,
                      dropped: int = 0) -> None:
        """Stage-total-only row (partition_id=-1, rows_in -1, wall_ms 0) for
        counters that ride another stage's action (capped-bucket overflow,
        anchor index volume) — no per-partition breakdown, no extra job."""
        self._append(stage, [(-1, -1, rows_out, dropped, 0)])

    def _append(self, stage: str, rows: list[tuple]) -> None:
        table = pa.Table.from_arrays(
            list(zip(*[(self.io.run_id, stage, *r) for r in rows])),
            schema=ARROW_SCHEMA)
        name = f"part-{uuid.uuid4().hex}.parquet"
        self.fs.create_dir(self.root, recursive=True)
        # no Arrow schema blob: the parquet types already carry the schema
        pq.write_table(table, f"{self.root}/.{name}", filesystem=self.fs,
                       store_schema=False)
        self.fs.move(f"{self.root}/.{name}", f"{self.root}/{name}")

    def read(self) -> DataFrame:
        # the part files, not the dir: Spark skips (and warns about) a leaf
        # dir named ``_metrics`` as hidden; no parts yet reads as empty
        files = self.fs.get_file_info(
            pafs.FileSelector(self.root, allow_not_found=True))
        return self.io.spark.read.schema(METRICS_SCHEMA).parquet(*(
            f"{self.path.rstrip('/')}/{f.base_name}" for f in files
            if not f.base_name.startswith(("_", "."))))
