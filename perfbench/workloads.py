"""The benchmark's workloads: inputs made from a seed, one call into the
program, and the oracle check of that call's output.

Each workload object is driven by ``run.py`` in this order:
``prepare`` (inputs, untimed) -> ``warm_up`` (inside set-up) -> ``call``
(timed, repeated) -> ``check`` (untimed; the oracle runs once, on first use).
"""

from __future__ import annotations

import contextlib
import io
import itertools
import json
import os
import sys
import time
from dataclasses import dataclass

# The warm-up corpus comes from another seed than the measured one.
WARM_SEED_OFFSET = 1_000_003
# A call passes its check when both pair scores reach the recall gate.
PASS_AT = 0.99


@dataclass
class Call:
    wall_s: float
    docs: int
    out_dir: str        # the call's durable outputs (its checkpoint tree)


def write_corpus(path: str, n_docs: int, seed: int) -> list[dict]:
    """Planted web mix as one parquet file; returns the same rows for the
    oracle (the generator is deterministic in ``seed``)."""
    from replicheck_spark.corpus import generate_pages, write_pages_parquet

    write_pages_parquet(path, n_docs=n_docs, seed=seed)
    return generate_pages(n_docs=n_docs, seed=seed)[0]


def read_columns(path: str, columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


def cluster_pairs(members: dict) -> set[tuple[str, str]]:
    """All (a, b), a < b, of items sharing a cluster id."""
    by_cluster: dict = {}
    for item, cid in members.items():
        by_cluster.setdefault(cid, []).append(item)
    return {p for items in by_cluster.values()
            for p in itertools.combinations(sorted(items), 2)}


class CrawlBatch:
    """``run_dedup`` exactly as ``jobs/dedup.py`` calls it (checkpoint
    "full", metrics on, substring stage on) over the planted web mix."""

    name = "crawl_batch"
    n_docs = 2000
    warm_docs = 100

    def __init__(self, work: str, seed: int):
        from replicheck_spark.config import DedupConfig

        self.work, self.seed = work, seed
        self.cfg = DedupConfig()
        self.rows: list[dict] = []
        self._truth = None

    def prepare(self) -> None:
        self.pages = os.path.join(self.work, "pages.parquet")
        self.rows = write_corpus(self.pages, self.n_docs, self.seed)
        self.warm_pages = os.path.join(self.work, "warm_pages.parquet")
        write_corpus(self.warm_pages, self.warm_docs,
                     self.seed + WARM_SEED_OFFSET)

    def _run(self, spark, pages_path: str, run_id: str, **opts) -> Call:
        from replicheck_spark.plans.pipeline import run_dedup

        ckpt = os.path.join(self.work, "ckpt")
        pages = spark.read.parquet(pages_path)
        t0 = time.perf_counter()
        run_dedup(spark, pages, self.cfg, ckpt, run_id=run_id,
                  with_substr=True, **opts)
        wall = time.perf_counter() - t0
        return Call(wall, self.n_docs, os.path.join(ckpt, run_id))

    def warm_up(self, spark) -> None:
        """The same operators, UDFs and shuffles without the per-stage
        parquet barriers and metrics jobs: measured to leave the next call as
        warm as a warm-up with the timed call's options, at half the cost
        (see README.md)."""
        self._run(spark, self.warm_pages, "warm", collect_metrics=False,
                  checkpoint="min")

    def call(self, spark, i: int) -> Call:
        return self._run(spark, self.pages, f"call{i}")

    def truth(self):
        """Oracle pairs and the pairs its clusters imply, at the job's
        config."""
        if self._truth is None:
            from replicheck_spark.oracle import run_oracle

            cfg = self.cfg
            res = run_oracle(
                self.rows, min_similarity=cfg.min_similarity,
                min_size=cfg.min_size, shingle_k=cfg.shingle_k,
                substr_min_tokens=cfg.substr_min_tokens, with_substr=True,
            )
            pairs = {(min(a, b), max(a, b)) for a, b, _, _ in res.pairs}
            self._truth = pairs, cluster_pairs(res.clusters)
        return self._truth

    def check(self, call: Call) -> tuple[float, float]:
        """(pair_recall, pair_precision): oracle pairs whose docs share a
        cluster label, and label-implied pairs the oracle's clusters imply."""
        truth, implied = self.truth()
        url = {r["doc_id"]: r["url"] for r in read_columns(
            os.path.join(call.out_dir, "docs"), ["doc_id", "url"])}
        labels = {url[r["doc_id"]]: r["cluster_id"] for r in read_columns(
            os.path.join(call.out_dir, "labels"), ["doc_id", "cluster_id"])}
        found = cluster_pairs(labels)
        recall = len(truth & found) / len(truth) if truth else 1.0
        precision = len(found & implied) / len(found) if found else 1.0
        return recall, precision


class CuratePass:
    """``jobs/curate.py`` ``main()`` with its default stages over the planted
    web mix, inside a session the benchmark started and warmed."""

    name = "curate_pass"
    n_docs = 2000
    warm_docs = 100

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self._truth = None

    def prepare(self) -> None:
        self.pages = os.path.join(self.work, "pages.parquet")
        write_corpus(self.pages, self.n_docs, self.seed)
        self.warm_pages = os.path.join(self.work, "warm_pages.parquet")
        write_corpus(self.warm_pages, self.warm_docs,
                     self.seed + WARM_SEED_OFFSET)

    def _run(self, spark, pages_path: str, run_id: str) -> Call:
        curate = _import_job("curate")
        ckpt = os.path.join(self.work, "ckpt")
        master = spark.sparkContext.master
        report = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(report):
            curate.main(["--pages", pages_path, "--ckpt", ckpt,
                         "--run-id", run_id, "--master", master])
        wall = time.perf_counter() - t0
        docs_in = json.loads(report.getvalue())["docs_in"]
        return Call(wall, docs_in, os.path.join(ckpt, run_id))

    def warm_up(self, spark) -> None:
        self._run(spark, self.warm_pages, "warm")

    def call(self, spark, i: int) -> Call:
        return self._run(spark, self.pages, f"call{i}")

    def truth(self, call: Call):
        """Oracle pairs among the docs that reach the dedup stage (the
        ``line_dedup`` output), at the dedup stage's config: Jaccard 0.8
        over 5-shingles, no minimum size, no substring stage."""
        if self._truth is None:
            from replicheck_spark.oracle import run_oracle

            rows = [{"url": str(r["doc_id"]), "html": None, "text": r["text"]}
                    for r in read_columns(
                        os.path.join(call.out_dir, "line_dedup"),
                        ["doc_id", "text"])]
            res = run_oracle(rows, min_similarity=0.8, min_size=0,
                             shingle_k=5, with_substr=False)
            pairs = {(a, b) for a, b, _, _ in res.pairs}
            self._truth = {r["url"] for r in rows}, pairs
        return self._truth

    def check(self, call: Call) -> tuple[float, float]:
        """(pair_recall, pair_precision): oracle pairs of which at most one
        doc survives, and removed docs that have an oracle partner."""
        before, pairs = self.truth(call)
        after = {str(r["doc_id"]) for r in read_columns(
            os.path.join(call.out_dir, "curated"), ["doc_id"])}
        kept_both = sum(1 for a, b in pairs if a in after and b in after)
        recall = 1.0 - kept_both / len(pairs) if pairs else 1.0
        removed = before - after
        partnered = {u for p in pairs for u in p}
        precision = (len(removed & partnered) / len(removed)
                     if removed else 1.0)
        return recall, precision


def _import_job(name: str):
    """The job module under ``jobs/`` of the checkout."""
    import importlib

    jobs = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs")
    if jobs not in sys.path:
        sys.path.insert(0, jobs)
    return importlib.import_module(name)


WORKLOADS = {w.name: w for w in (CrawlBatch, CuratePass)}
