"""Checkpoint/table IO layer.

Sandbox backend: Parquet directories under a checkpoint root, keyed by
``run_id/stage``; a stage output "exists" iff its ``_SUCCESS`` marker does —
Spark writes the marker last, so a killed write never looks complete. That is
the whole idempotent-resume contract (BASELINE.json north_rule "resumable from
checkpoint"): on restart with the same run_id, finished stages are read back,
unfinished ones recompute.

Production backend: Iceberg tables (``spark.jars.packages`` +
``spark.sql.catalog.*`` at submit time — the runtime jar is not in this
sandbox, see SURVEY.md §4.2 rule 5). `TableIO` keeps that switch behind one
class so no operator code changes.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class TableIO:
    def __init__(self, spark: SparkSession, root: str, run_id: str,
                 iceberg_catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.iceberg_catalog = iceberg_catalog

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, self.run_id, stage)

    def _table(self, stage: str) -> str:
        """Catalog table name for a stage.

        The parquet backend treats run_id as a directory name, so ids like
        ``2026-08-17-a`` must work on the Iceberg backend too: the run_id
        segment is sanitized into a SQL identifier (non-alphanumerics -> _,
        ``t`` prefix when it would start with a digit). Sanitization alone is
        lossy (``2026-08-17-a`` and ``2026_08_17_a`` would collide, letting
        one run resume another run's checkpoint tables), so a short sha1 of
        the RAW run_id is appended — the mapping is injective and still
        deterministic, so resume resolves the same table. ``iceberg_catalog``
        may itself be a multipart prefix (``catalog.namespace``) for catalogs
        that require a namespace."""
        import hashlib
        import re

        rid = re.sub(r"[^A-Za-z0-9_]", "_", self.run_id)
        if rid[:1].isdigit():
            rid = f"t{rid}"
        tag = hashlib.sha1(self.run_id.encode("utf-8")).hexdigest()[:8]
        return f"{self.iceberg_catalog}.{rid}_{tag}_{stage}"

    def exists(self, stage: str) -> bool:
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(self._table(stage))
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def write(self, stage: str, df: DataFrame, partitions: int | None = None) -> None:
        if partitions:
            df = df.repartition(partitions)
        if self.iceberg_catalog:
            df.writeTo(self._table(stage)).createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self._path(stage))

    def file_row_counts(self, stage: str) -> list[int]:
        """Rows of each data file the stage's write committed, in write order
        (``part-NNNNN``), from metadata: parquet footers (no Spark job), or
        the Iceberg backend's ``files`` table."""
        if self.iceberg_catalog:
            files = self.spark.sql(
                f"SELECT file_path, record_count FROM {self._table(stage)}.files"
            ).collect()
            return [r["record_count"] for r in sorted(files)]
        path = self._path(stage)
        return [pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in sorted(os.listdir(path))
                if not f.startswith(("_", "."))]

    def read(self, stage: str, schema: StructType | None = None) -> DataFrame:
        """The stage's table. A known ``schema`` (the frame just written)
        spares the parquet read its schema-inference job over the footers."""
        if self.iceberg_catalog:
            return self.spark.read.table(self._table(stage))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(stage))
