"""bench.py's child protocol: ``--single`` runs the dedup pipeline once in a
fresh JVM and prints one JSON line that the headline sweep parses."""

from __future__ import annotations

import pyarrow.parquet as pq

import bench
from replicheck_spark.corpus import write_pages_parquet


def test_single_child_reports_cores_wall_and_docs(tmp_path):
    pages = str(tmp_path / "pages.parquet")
    write_pages_parquet(pages, n_docs=300, seed=42)
    parsed = bench._run_single_child(2, pages, str(tmp_path / "work"))
    assert set(parsed) == {"cores", "wall_sec", "docs"}
    assert parsed["cores"] == 2
    assert parsed["docs"] == pq.read_metadata(pages).num_rows
    assert parsed["wall_sec"] > 0
