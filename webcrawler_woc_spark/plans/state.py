"""Crawl-state warehouse: per-wave parquet snapshots + an atomic manifest.

Plays the role Iceberg plays in the full-scale design (SURVEY.md §1.3 — the
Iceberg runtime jar is not available in this sandbox, so the same
snapshot-commit contract is implemented directly over parquet):

* every wave commits its outputs under ``<table>/wave=K/`` directories;
* a wave is visible only once the JSON manifest (written tmp + atomic rename)
  records it — readers NEVER list directories, they read exactly the paths
  the manifest names, so a crash mid-write leaves at most invisible orphans;
* the manifest stores per-wave row counts, per-host lineage, wall time and
  the Bloom sidecar path (``None`` on waves that did not probe the filter,
  see plans/wave.py) => resumable from any completed wave (north rule:
  "resumable from checkpoint with per-partition lineage + metrics").

Tables: frontier, seen, rejected, links_out, flagged, crawl_order.
State tables are repartitioned by ``pmod(url_hash, n_buckets)`` on write so
wave-over-wave anti-joins co-partition.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import PartitionedBloom

STATE_TABLES = ("frontier", "seen", "rejected", "links_out", "flagged", "crawl_order")


class Warehouse:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        # absolute root: manifest table paths must resolve regardless of the
        # cwd a later (resuming) process runs from
        self.path = os.path.abspath(path)
        self.n_buckets = n_buckets
        os.makedirs(path, exist_ok=True)
        self._manifest_path = os.path.join(path, "manifest.json")
        self.manifest = self._load_manifest()

    # ------------------------------------------------------------------ io

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"last_wave": -1, "waves": {}, "n_buckets": self.n_buckets}

    def _commit_manifest(self) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    def table_wave_path(self, table: str, wave: int) -> str:
        return os.path.join(self.path, table, f"wave={wave}")

    def write_wave_table(self, table: str, wave: int, df: DataFrame, bucket: bool = False) -> str:
        path = self.table_wave_path(table, wave)
        if bucket and "url_hash" in df.columns:
            # repartition by the bucket EXPRESSION without pinning the
            # partition count: AQE sizes the shuffle to the data (guide
            # §2.2/§6 — scale-adaptive, not a constant), so a 30-URL wave
            # writes 1-2 files instead of n_buckets near-empty ones while a
            # 10^9-URL wave still spreads across the full shuffle width.
            # Rows with equal pmod(url_hash, n_buckets) stay co-located in
            # one file, which is the at-rest property the bucketed readers
            # rely on.
            df = df.repartition(F.pmod(F.col("url_hash"), F.lit(self.n_buckets)))
        df.write.mode("overwrite").parquet(path)
        return path

    def read_waves(self, table: str, up_to_wave: int | None = None) -> DataFrame | None:
        """Union of all committed wave snapshots of a table (manifest-driven)."""
        last = self.manifest["last_wave"] if up_to_wave is None else up_to_wave
        paths = [
            p
            for w_str, info in self.manifest["waves"].items()
            if int(w_str) <= last
            for t, p in info.get("tables", {}).items()
            if t == table
        ]
        if not paths:
            return None
        return self.spark.read.option("basePath", os.path.join(self.path, table)).parquet(*paths)

    def read_frontier(self, wave: int) -> DataFrame | None:
        path = self.table_wave_path("frontier", wave)
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    # --------------------------------------------------------------- commit

    def commit_wave(
        self,
        wave: int,
        table_paths: dict[str, str],
        counts: dict[str, int],
        host_lineage: list[dict] | None,
        wall_sec: float,
        bloom: PartitionedBloom | None,
        timings: dict | None = None,
    ) -> None:
        """Atomically record a completed wave (the Spark 'action barrier').

        ``bloom`` is the seen-set prefilter sidecar, saved next to the
        tables; ``None`` (the wave did not probe the filter) records none."""
        bloom_path = None
        if bloom is not None:
            bloom_path = os.path.join(self.path, f"bloom_wave_{wave}.npz")
            bloom.save(bloom_path)
        self.manifest["waves"][str(wave)] = {
            "tables": table_paths,
            "counts": counts,
            "host_lineage": host_lineage or [],
            "wall_sec": wall_sec,
            "bloom": bloom_path,
            "timings": timings or {},
            "committed_at": time.time(),
        }
        self.manifest["last_wave"] = wave
        self._commit_manifest()

    def load_seen_filter(self, wave: int | None = None) -> PartitionedBloom | None:
        """Bloom sidecar of the latest (or given) committed wave; None when
        that wave carried none."""
        last = self.manifest["last_wave"] if wave is None else wave
        info = self.manifest["waves"].get(str(last))
        if info and info.get("bloom") and os.path.exists(info["bloom"]):
            return PartitionedBloom.load(info["bloom"])
        return None

    def destroy(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    @property
    def last_wave(self) -> int:
        return self.manifest["last_wave"]

    def wave_counts(self, wave: int) -> dict:
        return self.manifest["waves"][str(wave)]["counts"]
