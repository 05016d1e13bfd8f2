"""The benchmark's workloads. Each one is a closed loop in one driver process:
the next operation starts when the previous one (and its oracle check) ends.

* ``frontier_deep``  — a politeness-budgeted crawl whose waves are small, so
  the per-wave fixed cost dominates;
* ``corpus_queries`` — bench leaves of ``__spark_entry__.queries()``, one or
  two per operator module, plus ``crawl_policy_routing``, the
  frontier-expansion kernel (gate -> extract -> canonicalize -> dedup ->
  route) over the whole corpus.

Only public entry points of the engine are called.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import inputs
import oracles

HERE = os.path.dirname(os.path.abspath(__file__))
WALLS_PATH = os.path.join(HERE, ".work", "walls.json")


@dataclass
class OpResult:
    wall_s: float = 0.0
    pages: int = 0            # fetch attempts, or documents read
    urls: int = 0             # child URLs routed
    urls_s: float = 0.0       # seconds of the part of the op that routed them
    wave_walls: list[float] = field(default_factory=list)
    stored_bytes: int = 0     # warehouse bytes on disk after a crawl
    units: list[dict] = field(default_factory=list)  # per wave or per leaf facts
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def _span(tracer, kind: str, label: str):
    return tracer.span(kind, label) if tracer is not None else contextlib.nullcontext()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, seed: int, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.run_dir = run_dir
        self.tables = os.path.join(run_dir, "inputs")
        self.facts: dict = {}  # set-up facts the trace reports

    def setup(self) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        """Compute (or load) the expected results; runs after set-up, untimed."""

    def _op(self, i: int, tracer) -> OpResult:
        raise NotImplementedError

    def run_op(self, i: int, tracer=None) -> OpResult:
        t0 = time.perf_counter()
        try:
            return self._op(i, tracer)
        except Exception as e:  # a raising op is a failed op; the loop goes on
            traceback.print_exc(file=sys.stderr)
            return OpResult(
                wall_s=time.perf_counter() - t0, problems=[f"raised {type(e).__name__}: {e}"]
            )

    def warm_up(self, pages) -> None:
        """One pass of the wave kernel over ``pages``: starts the Python
        workers and lets the JVM compile the engine's common paths, so that
        one-time cost is set-up, as it is for a long-running crawler; the
        measured operation still plans and compiles its own queries."""
        t0 = time.perf_counter()
        routed = kernel_pass(pages, [f"host{h}.example" for h in range(inputs.N_HOSTS // 2)])
        if not routed:
            raise RuntimeError("warm-up kernel pass routed no URLs")
        self.facts["warmup_s"] = time.perf_counter() - t0


def kernel_pass(pages, whitelist: list[str]) -> dict:
    """gate -> extract_child_links -> dedup_wave -> should_crawl_col over
    every page; routed URL count per routing decision. Also extracts every
    page's text, the other html -> Python crossing of a wave."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.operators.extract import (
        extract_child_links, extracted_text, mime_ok,
    )
    from webcrawler_woc_spark.operators.fetch import with_host, with_url_hash
    from webcrawler_woc_spark.operators.routing import dedup_wave, should_crawl_col
    from webcrawler_woc_spark.sources.corpus import default_content_type_expr

    gated = pages.withColumn("content_type", default_content_type_expr(F.col("url"))).filter(
        mime_ok(F.col("content_type")))
    if extracted_text(gated).count() == 0:
        return {}
    children = extract_child_links(gated).select("url", "link_type")
    routed = with_host(with_url_hash(dedup_wave(children))).withColumn(
        "sc", should_crawl_col(F.col("host"), whitelist, None))
    return {r["sc"]: r["n"] for r in routed.groupBy("sc").agg(F.count("*").alias("n")).collect()}


class FrontierDeep(Workload):
    name = "frontier_deep"
    why = ("politeness-budgeted crawl of one small wave: per-wave fixed cost, deferral, "
           "many small warehouse writes")
    # Three seeds on each host against a budget of three: hosts whose
    # robots.txt crawl-delay lowers their budget defer seeds, so every seed
    # schedules the same 18 fetches. One wave, because a campaign of two-wave
    # crawls does not fit the benchmark's hour on 4 cores.
    N_DOCS, MULT, DEPTH, HOST_BUDGET, SEEDS_PER_HOST, N_BUCKETS = 2000, 2, 1, 3, 3, 32

    def setup(self) -> None:
        from webcrawler_woc_spark.config import CrawlConfig

        inputs.write_tables(self.tables, self.seed, self.N_DOCS, 0)
        self.pages, n = self._build_corpus(self.MULT)
        self.warm_up(self.pages)
        self.seeds = inputs.seed_urls(self.rng, n, self.SEEDS_PER_HOST)
        self.cfg = CrawlConfig(
            whitelist=[f"host{h}.example" for h in range(inputs.N_HOSTS)],
            words=["merge"],
            depth=self.DEPTH,
            host_budget=self.HOST_BUDGET,
            use_bloom=True,
            n_buckets=self.N_BUCKETS,
        )

    def _build_corpus(self, mult: int):
        t0 = time.perf_counter()
        pages, n = inputs.build_corpus(self.spark, self.tables, mult)
        pages = pages.persist()
        self.facts["corpus.pages"] = pages.count()
        self.facts["corpus.build_s"] = time.perf_counter() - t0
        return pages, n

    def _crawl(self, tracer, label: str):
        """Crawl into a fresh warehouse; return (wall seconds, warehouse)."""
        from webcrawler_woc_spark.plans.crawl import crawl
        from webcrawler_woc_spark.plans.state import Warehouse

        wh_dir = tempfile.mkdtemp(prefix="warehouse-", dir=self.run_dir)
        wh = Warehouse(self.spark, wh_dir, n_buckets=self.N_BUCKETS)
        t0 = time.perf_counter()
        with _span(tracer, "op", label):
            crawl(self.spark, wh, self.pages, self.seeds, self.cfg)
        return time.perf_counter() - t0, wh

    def prepare_oracle(self) -> None:
        self.expected = oracles.cached(
            [self.name, self.seed, self.N_DOCS, self.MULT, self.seeds, repr(self.cfg)],
            lambda: oracles.crawl_expected(self.tables, self.MULT, self.seeds, self.cfg),
        )

    def _op(self, i: int, tracer) -> OpResult:
        wall, wh = self._crawl(tracer, f"crawl {i}")
        try:
            waves = [wh.manifest["waves"][str(w)] for w in range(self.cfg.depth)]
            units = [
                {
                    "unit": f"wave {w}",
                    "wall_s": info["wall_sec"],
                    "counts": info["counts"],
                    "timings": info["timings"],
                    "deduped": self.expected["deduped_per_wave"][w],
                    "bloom_bytes": os.path.getsize(info["bloom"]) if info.get("bloom") else 0,
                }
                for w, info in enumerate(waves)
            ]
            return OpResult(
                wall_s=wall,
                pages=sum(info["counts"]["scheduled"] for info in waves),
                urls=sum(info["counts"]["extracted_links"] for info in waves),
                urls_s=wall,
                wave_walls=[info["wall_sec"] for info in waves],
                stored_bytes=dir_bytes(wh.path),
                units=units,
                problems=oracles.check_crawl(wh, self.expected),
            )
        finally:
            wh.destroy()


class CorpusQueries(Workload):
    name = "corpus_queries"
    why = ("bench leaves of __spark_entry__.queries(), one or two per operator module, plus "
           "the full-corpus frontier-expansion kernel: operators no crawl touches")
    LEAVES = [
        "crawl_extracted_text", "dedup_exact", "dedup_simhash", "cluster_kmeans",
        "crawl_domain_quality", "text_token_counts", "ann_cosine_topk", "crawl_policy_routing",
    ]
    KERNEL = "crawl_policy_routing"  # gate -> extract -> dedup -> route, corpus-wide
    N_DOCS, N_VECS = 1000, 500

    def setup(self) -> None:
        import __spark_entry__ as entry

        t0 = time.perf_counter()
        inputs.write_tables(self.tables, self.seed, self.N_DOCS, self.N_VECS)
        self.facts["corpus.build_s"] = time.perf_counter() - t0
        self.facts["corpus.pages"] = self.N_DOCS
        self.queries = entry.queries()
        self.warm_up(inputs.build_corpus(self.spark, self.tables)[0])

    def prepare_oracle(self) -> None:
        self.expected = oracles.cached(
            [self.name, self.seed, self.N_DOCS, self.N_VECS],
            lambda: oracles.queries_expected(self.tables, self.LEAVES),
        )

    def _run_leaves(self, tracer) -> tuple[dict, list[dict]]:
        got, units = {}, []
        for leaf in self.LEAVES:
            t = time.perf_counter()
            with tracer.leaf(leaf) if tracer else contextlib.nullcontext():
                df = self.queries[leaf](self.spark, self.tables)
                got[leaf] = (df.columns, df.collect())
            units.append({"unit": leaf, "wall_s": time.perf_counter() - t})
        return got, units

    def _op(self, i: int, tracer) -> OpResult:
        t0 = time.perf_counter()
        with _span(tracer, "op", f"query set {i}"):
            got, units = self._run_leaves(tracer)
        wall = time.perf_counter() - t0
        problems = [
            f"{leaf} differs from its oracle_sql()"
            for leaf, (cols, rows) in got.items()
            if oracles.norm_rows(cols, [tuple(r) for r in rows]) != self.expected[leaf]
        ]
        kernel = next(u for u in units if u["unit"] == self.KERNEL)
        cols, rows = got[self.KERNEL]
        return OpResult(
            wall_s=wall, pages=self.N_DOCS, units=units, problems=problems,
            urls=sum(r[cols.index("n")] for r in rows), urls_s=kernel["wall_s"],
        )


WORKLOADS = {w.name: w for w in (FrontierDeep, CorpusQueries)}


def cached_wall(workload: str, seed: int) -> float | None:
    """wall_s of the last untraced run of this workload and seed, if any."""
    try:
        with open(WALLS_PATH) as f:
            return json.load(f).get(f"{workload}:{seed}")
    except (OSError, ValueError):
        return None


def cache_wall(workload: str, seed: int, wall_s: float) -> None:
    try:
        with open(WALLS_PATH) as f:
            walls = json.load(f)
    except (OSError, ValueError):
        walls = {}
    walls[f"{workload}:{seed}"] = wall_s
    os.makedirs(os.path.dirname(WALLS_PATH), exist_ok=True)
    with open(WALLS_PATH + ".tmp", "w") as f:
        json.dump(walls, f)
    os.replace(WALLS_PATH + ".tmp", WALLS_PATH)
