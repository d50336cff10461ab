"""The full dedup job: EXTRACT -> EXACT -> SIGN -> CANDS -> CONFIRM -> SUBSTR
-> CLUSTER -> REPORT, each stage checkpointed and skip-if-exists (idempotent
resume, SURVEY.md §3.4).

Every stage writes its output table under ``ckpt/<run_id>/<stage>`` and its
counters to the metrics table; on restart with the same run_id, completed
stages are read back instead of recomputed. The driver touches data only for
convergence counters and stage totals.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from replicheck_spark.config import DedupConfig
from replicheck_spark.operators.components import (
    clusters_from_labels,
    connected_components,
)
from replicheck_spark.operators.confirm import confirm_pairs
from replicheck_spark.operators.exact import (
    exact_edges,
    exact_edges_from_groups,
    exact_groups,
)
from replicheck_spark.operators.extract import eligible_docs, extract_docs
from replicheck_spark.operators.lsh import candidate_pairs, explode_bands
from replicheck_spark.operators.signatures import compute_signatures
from replicheck_spark.operators.substr import anchor_pairs, substr_edges
from replicheck_spark.plans.metrics import MetricsSink
from replicheck_spark.plans.stages import StageRunner
from replicheck_spark.sources.io import TableIO

EDGE_COLS = ["a", "b", "a_url", "b_url", "jaccard", "hamming", "kind"]


@dataclass
class DedupResult:
    docs: DataFrame
    exact_groups: DataFrame
    edges: DataFrame
    labels: DataFrame
    clusters: DataFrame
    metrics: DataFrame


def _norm_edges(df: DataFrame) -> DataFrame:
    out = df
    for c in EDGE_COLS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None))
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        "a_url",
        "b_url",
        F.col("jaccard").cast("double"),
        F.col("hamming").cast("int"),
        "kind",
    )


_ADVISORY_WAS_UNSET = object()  # sentinel: conf key did not exist before


def _auto_advisory_partition_size(spark, pages: DataFrame) -> None:
    """Scale AQE's post-shuffle partition size with the INPUT volume.

    Partition sizing is the one knob that cannot be a constant across scales:
    AQE coalescing only merges partitions down, so at a fixed
    ``advisoryPartitionSizeInBytes`` the post-shuffle partition COUNT grows
    linearly with data — measured on this pipeline, the 4 MB advisory that
    keeps a 20k-doc test parallel coalesces a 1.6M-doc run to ~300
    partitions, whose per-task overhead on pandas-UDF stages cost 1.65x wall
    vs the measured-optimal ~64 (531.9s vs 325.9s, local[8], identical input;
    fixed LOW counts are far worse still: 817.3s at 16). Targeting
    ``input_bytes / (8 * cores)`` keeps task waves bounded (~8 per stage) as
    data grows, clamped to [4 MB, 64 MB]: the floor preserves small-scale
    parallelism, the ceiling is the classic healthy-partition bound a real
    cluster would use (at 100 TB it yields ~1.6M partitions of 64 MB —
    partition count tracks volume, per-partition memory stays flat).

    Runtime-settable AQE conf — applies to this session from the next query
    on; explicit ``SPARK_GRAFT_ADVISORY_PARTITION`` wins (operator override).
    Non-local inputs (no resolvable file sizes) keep the session default.

    Returns the PREVIOUS conf value when it changed the setting (None
    otherwise) so ``run_dedup`` can restore it: the advisory is sized for
    THIS input, and leaking it session-wide would silently re-partition
    every later query (including a subsequent run_dedup over a different
    input) to the wrong volume.
    """
    import os
    from urllib.parse import unquote, urlparse

    if os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION"):
        return None
    total = 0
    try:
        for uri in pages.inputFiles():
            if uri.startswith("file:"):
                total += os.path.getsize(unquote(urlparse(uri).path))
    except Exception:
        return None
    if not total:
        return None
    cores = spark.sparkContext.defaultParallelism
    advisory = min(max(total // (8 * cores), 4 << 20), 64 << 20)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    # distinguish "previously unset" (sessions not built by get_spark, which
    # always sets the key) from "nothing changed": restore must then UNSET,
    # not skip — otherwise this input's sizing leaks session-wide, the exact
    # bug the restore exists to prevent
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(advisory))
    return prev if prev is not None else _ADVISORY_WAS_UNSET


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    ckpt_root: str,
    run_id: str = "run0",
    with_substr: bool = True,
    collect_metrics: bool = True,
    checkpoint: str = "full",
    iceberg_catalog: str | None = None,
) -> DedupResult:
    """collect_metrics=False skips the metrics table and its drain jobs.

    checkpoint="full": every stage lands in parquet (resume skips finished
    stages). checkpoint="min": intermediate edge tables use localCheckpoint
    (lineage cut, no parquet barrier, NOT resumable) while the durable outputs
    (docs, signatures, edges, labels, clusters, exact_groups) still persist —
    the bench/throughput mode.
    """
    io = TableIO(spark, ckpt_root, run_id, iceberg_catalog=iceberg_catalog)
    sink = (MetricsSink(io, f"{ckpt_root}/{run_id}/_metrics")
            if collect_metrics else None)
    # Scope the input-sized advisory to THIS run: every durable output is on
    # disk by the time we return, so later queries in the session (bench
    # headline queries, a run over a different input) must see the session
    # default again, not this input's sizing.
    prev_advisory = _auto_advisory_partition_size(spark, pages)
    try:
        return _run_dedup_stages(spark, pages, cfg, StageRunner(io, sink),
                                 with_substr, checkpoint)
    finally:
        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        if prev_advisory is _ADVISORY_WAS_UNSET:
            spark.conf.unset(key)
        elif prev_advisory is not None:
            spark.conf.set(key, prev_advisory)


def _run_dedup_stages(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    runner: StageRunner,
    with_substr: bool,
    checkpoint: str,
) -> DedupResult:
    sink = runner.sink  # None: metrics off
    durable = {"docs", "signatures", "edges", "labels", "clusters", "exact_groups"}

    # A small single-file input scans as ONE split, serializing the extraction
    # and signature UDFs on one task. Fan out if under-partitioned (metadata
    # check only; a real many-file table at scale is untouched).
    parallelism = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < parallelism:
        pages = pages.repartition(parallelism)

    # (stage_name, metric_frame, agg_exprs) resolved AFTER the consuming
    # actions ran: each frame derives from a lazily-checkpointed bucket table
    # that the pair-consuming stages materialize, so the drain agg is a cheap
    # job over cached partitions — not a recompute, and not an eager collect
    # at build time (that was r2's serial-floor tax). Not a df.observe either:
    # it would resolve to zero here (see lsh.candidate_pairs).
    deferred_metrics: list[tuple[str, DataFrame, list]] = []

    def stage(name: str, build, rows_in: str | None = None):
        """Run (or resume) one stage; rows_in names its UPSTREAM stage."""
        if checkpoint == "min" and name not in durable:
            # lazy checkpoint: lineage still truncates and the result is
            # still computed exactly once (first consumer materializes it),
            # but with no job barrier per stage: each eager one cost ~1-2 s
            # of driver round-trip, a serial-floor tax at any core count
            return build().localCheckpoint(eager=False)
        return runner.run(name, build, rows_in)

    docs = stage("docs", lambda: extract_docs(pages))
    elig = eligible_docs(docs, cfg.min_size)

    # signatures FIRST: compute_signatures is 1:1 with elig, so its observed
    # rows_out IS the eligible-doc count — the min_size drop becomes visible
    # (docs.rows_out - signatures.rows_out) and every elig-consuming stage
    # threads the true rows_in, all without an extra count job or an observe
    # node on elig (which would sit between the scan and every consumer).
    sigs = stage("signatures", lambda: compute_signatures(elig, cfg), "signatures")

    # ONE groupBy pass over elig yields groups AND the per-group representative;
    # star edges then join the (dup-groups-only) rep table back to elig instead
    # of re-aggregating it — the r2 pipeline ran this aggregation twice.
    exact_g = stage(
        "exact_groups", lambda: exact_groups(elig, with_rep=True), "signatures"
    )
    # A run resumed from a pre-rep checkpoint reads an exact_groups table
    # without rep_id/rep_url; fall back to the self-contained star-edge agg
    # there so the stage-resume contract (SURVEY §3.4) holds across the
    # schema change instead of failing with AnalysisException.
    exact_e = stage(
        "exact_edges",
        lambda: exact_edges_from_groups(elig, exact_g)
        if "rep_id" in exact_g.columns
        else exact_edges(elig),
        "signatures",
    )

    def build_cands():
        bands = explode_bands(sigs, cfg)
        pairs, capped = candidate_pairs(bands, cfg)
        if sink:
            # resolved after the consuming action — see deferred_metrics
            deferred_metrics.append((
                "cands_capped", capped,
                [F.coalesce(F.sum("overflow"), F.lit(0)).alias("dropped")],
            ))
        return pairs

    cands = stage("cand_pairs", build_cands, "signatures")

    near_e = stage(
        "near_edges", lambda: confirm_pairs(cands, sigs, cfg), "cand_pairs"
    )

    if with_substr:
        def build_substr():
            sub_cand, _capped, stats = anchor_pairs(sigs, cfg)
            if sink:
                deferred_metrics.append((
                    "substr_anchors", stats,
                    [F.coalesce(F.sum("overflow"), F.lit(0)).alias("dropped"),
                     F.coalesce(F.sum("rows"), F.lit(0)).alias("rows_out")],
                ))
            # skip pairs already confirmed near (cheaper verify)
            fresh = sub_cand.join(near_e.select("a", "b"), ["a", "b"], "left_anti")
            # exact_run=False: the pipeline needs the edge, not the length
            return substr_edges(fresh, docs, cfg, exact_run=False).drop(
                "run_tokens"
            )

        substr_e = stage("substr_edges", build_substr, "signatures")
    else:
        substr_e = spark.createDataFrame([], _norm_edges(near_e).schema)

    edges = stage(
        "edges",
        lambda: _norm_edges(exact_e)
        .unionByName(_norm_edges(near_e))
        .unionByName(_norm_edges(substr_e))
        .dropDuplicates(["a", "b", "kind"]),
        "near_edges",
    )

    labels = stage("labels", lambda: connected_components(edges), "edges")
    clusters = stage(
        "clusters", lambda: clusters_from_labels(labels, docs), "labels"
    )

    # Drain the deferred metrics. Cheap iff their bucket checkpoints actually
    # materialized: a deferred entry only exists when the build ran, and in
    # checkpoint=min the (lazy) candidate/anchor frames materialize via the
    # durable edges write — if "edges" was resumed from disk they never
    # executed and the agg would RECOMPUTE the bucketing from scratch, so
    # skip (the original run already recorded them).
    if sink and (checkpoint != "min" or "edges" not in runner.resumed):
        for mstage, frame, exprs in deferred_metrics:
            vals = frame.agg(*exprs).first().asDict()
            dropped = int(vals.get("dropped") or 0)
            rows_out = int(vals["rows_out"]) if "rows_out" in vals else -1
            if dropped or rows_out >= 0:
                sink.record_totals(mstage, rows_out=rows_out, dropped=dropped)

    return DedupResult(
        docs=docs,
        exact_groups=exact_g,
        edges=edges,
        labels=labels,
        clusters=clusters,
        metrics=sink.read() if sink else None,
    )
