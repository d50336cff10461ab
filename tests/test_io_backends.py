"""TableIO backend switch: the Iceberg branch (production backend, SURVEY.md
§4.2 rule 5) is exercised against a stubbed SparkSession — the runtime jar is
not in this sandbox, but the catalog-naming and writeTo/read.table dispatch
must not be dead code. jobs/dedup.py plumbs --iceberg-catalog through
run_dedup to this class."""

from __future__ import annotations

from unittest.mock import MagicMock

from pyspark.sql import Row

from replicheck_spark.sources.io import TableIO


def _fake_spark():
    spark = MagicMock(name="spark")
    spark.catalog.tableExists.return_value = True
    return spark


def test_iceberg_exists_uses_catalog_table_names():
    spark = _fake_spark()
    io = TableIO(spark, "/ckpt", "run7", iceberg_catalog="ice.db")
    assert io.exists("signatures") is True
    spark.catalog.tableExists.assert_called_once_with(
        "ice.db.run7_841aaa70_signatures"
    )


def test_iceberg_write_uses_writeTo_createOrReplace():
    spark = _fake_spark()
    io = TableIO(spark, "/ckpt", "run7", iceberg_catalog="ice.db")
    df = MagicMock(name="df")
    io.write("edges", df)
    df.writeTo.assert_called_once_with("ice.db.run7_841aaa70_edges")
    df.writeTo.return_value.createOrReplace.assert_called_once_with()
    df.write.mode.assert_not_called()  # parquet path must not run


def test_iceberg_read_uses_read_table():
    spark = _fake_spark()
    io = TableIO(spark, "/ckpt", "run7", iceberg_catalog="ice.db")
    io.read("labels")
    spark.read.table.assert_called_once_with("ice.db.run7_841aaa70_labels")


def test_iceberg_file_row_counts_read_files_metadata_table():
    """Per-file lineage counts come from the table's ``files`` metadata
    table, ordered by data file path (Iceberg names files by task index)."""
    spark = _fake_spark()
    spark.sql.return_value.collect.return_value = [
        Row(file_path="s3://w/data/00001-1-x.parquet", record_count=7),
        Row(file_path="s3://w/data/00000-0-x.parquet", record_count=5),
    ]
    io = TableIO(spark, "/ckpt", "run7", iceberg_catalog="ice.db")
    assert io.file_row_counts("edges") == [5, 7]
    spark.sql.assert_called_once_with(
        "SELECT file_path, record_count FROM ice.db.run7_841aaa70_edges.files"
    )


def test_iceberg_run_id_sanitized_to_sql_identifier():
    """A date-stamped run_id works as a parquet directory name, so the
    Iceberg backend must map it to a legal identifier (deterministically,
    or resume would resolve a different table) instead of throwing a
    ParseException on the hyphens/leading digit."""
    spark = _fake_spark()
    io = TableIO(spark, "/ckpt", "2026-08-17-a", iceberg_catalog="ice.db")
    io.exists("docs")
    spark.catalog.tableExists.assert_called_once_with(
        "ice.db.t2026_08_17_a_7df129aa_docs"
    )


def test_iceberg_run_id_mapping_is_injective():
    """Sanitization alone maps '2026-08-17-a' and '2026_08_17_a' to the same
    identifier, so one run could silently resume the other's checkpoint
    tables; the sha1 tag of the RAW run_id must keep them distinct."""
    spark = _fake_spark()
    a = TableIO(spark, "/ckpt", "2026-08-17-a", iceberg_catalog="ice.db")
    b = TableIO(spark, "/ckpt", "2026_08_17_a", iceberg_catalog="ice.db")
    assert a._table("docs") != b._table("docs")
    # deterministic: same run_id always resolves the same table (resume)
    c = TableIO(spark, "/ckpt", "2026-08-17-a", iceberg_catalog="ice.db")
    assert a._table("docs") == c._table("docs")


def test_parquet_default_untouched(tmp_path):
    spark = _fake_spark()
    io = TableIO(spark, str(tmp_path), "run7")
    assert io.exists("docs") is False  # no _SUCCESS marker
    spark.catalog.tableExists.assert_not_called()


def test_jobs_cli_plumbs_iceberg_catalog():
    """--iceberg-catalog must reach run_dedup (constructor-reachable from the
    spark-submit surface, not only from tests)."""
    import inspect

    from jobs.dedup import parse_args
    from replicheck_spark.plans.pipeline import run_dedup

    args = parse_args(["--synth", "10", "--ckpt", "/tmp/x",
                       "--iceberg-catalog", "ice"])
    assert args.iceberg_catalog == "ice"
    assert "iceberg_catalog" in inspect.signature(run_dedup).parameters


def test_iceberg_backend_end_to_end_when_jar_present(spark, tmp_path):
    """Full write/exists/read/overwrite round trip through the Iceberg
    branch against a real hadoop-catalog warehouse. The iceberg-spark
    runtime jar is NOT in this sandbox, so the test skips cleanly here and
    runs wherever the jar is on the classpath (spark-submit --packages
    org.apache.iceberg:iceberg-spark-runtime-*; catalog confs are set at
    runtime — Spark instantiates catalogs lazily, so no session restart is
    needed)."""
    import pytest

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        pytest.skip("iceberg-spark-runtime jar not on the Spark classpath")
    spark.conf.set(
        "spark.sql.catalog.icetest", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.icetest.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.icetest.warehouse", str(tmp_path / "warehouse")
    )
    spark.sql("CREATE NAMESPACE IF NOT EXISTS icetest.ck")
    io = TableIO(
        spark, root=str(tmp_path), run_id="2026-08-18-it",
        iceberg_catalog="icetest.ck",
    )
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    assert not io.exists("stage1")
    io.write("stage1", df)
    assert io.exists("stage1")  # the resume gate
    got = sorted(r["doc_id"] for r in io.read("stage1").collect())
    assert got == [0, 1, 2, 3, 4]
    # a re-run overwrites idempotently (createOrReplace), never appends
    io.write("stage1", df.filter("doc_id < 3"))
    assert io.read("stage1").count() == 3
    assert sum(io.file_row_counts("stage1")) == 3  # metrics-sink lineage
