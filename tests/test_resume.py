"""Checkpoint/resume: a crawl interrupted after wave k resumes from the
manifest and converges to the identical final state (SURVEY.md §5.2-3)."""

from __future__ import annotations

import tempfile

import pytest

from webcrawler_woc_spark.config import CrawlConfig
from webcrawler_woc_spark.plans.crawl import crawl, read_crawl_order, read_seen
from webcrawler_woc_spark.plans.state import Warehouse
from webcrawler_woc_spark.sources.corpus import pages_from_documents

SEEDS = [("http://host0.example/page/0", 1.0)]
WL = [f"host{i}.example" for i in range(5)]


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = pages_from_documents(spark, sf_dir).cache()
    df.count()
    return df


def _state(wh):
    seen = {r["url"] for r in read_seen(wh).collect()}
    order = sorted(
        (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
    )
    return seen, order


class TestResume:
    def test_kill_after_wave1_resume_identical(self, spark, pages):
        cfg_full = CrawlConfig(whitelist=WL, depth=3, use_bloom=True, n_buckets=8)

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            # uninterrupted reference run
            wh_full = Warehouse(spark, t1, n_buckets=8)
            crawl(spark, wh_full, pages, SEEDS, cfg_full)

            # interrupted run: stop after wave 1 (simulated kill: new driver
            # process == new Warehouse object reading the manifest)
            cfg_partial = CrawlConfig(whitelist=WL, depth=2, use_bloom=True, n_buckets=8)
            wh_a = Warehouse(spark, t2, n_buckets=8)
            crawl(spark, wh_a, pages, SEEDS, cfg_partial)
            assert wh_a.last_wave == 2  # waves 0,1 + residual-flush entry

            # resume with the full depth from a FRESH Warehouse (manifest read)
            wh_b = Warehouse(spark, t2, n_buckets=8)
            assert wh_b.last_wave == 2
            # drop the residual-flush pseudo-wave so wave 2 re-runs properly
            del wh_b.manifest["waves"]["2"]
            wh_b.manifest["last_wave"] = 1
            wh_b._commit_manifest()
            crawl(spark, wh_b, pages, SEEDS, cfg_full)

            assert _state(wh_b) == _state(wh_full)

    def test_bloom_sidecar_reloaded_on_resume(self, spark, pages, monkeypatch):
        import webcrawler_woc_spark.config as cfgmod

        # the sidecar only exists on waves that probe the filter, i.e. once
        # the cumulative seen rows exceed the broadcast threshold
        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        cfg = CrawlConfig(whitelist=WL, depth=2, use_bloom=True, n_buckets=8)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp, n_buckets=8)
            crawl(spark, wh, pages, SEEDS, cfg)
            bloom = wh.load_seen_filter()
            assert bloom is not None
            # every seen url_hash must be in the bloom (no false negatives)
            import numpy as np

            hashes = np.array(
                [r["url_hash"] for r in wh.read_waves("seen").select("url_hash").collect()],
                dtype=np.int64,
            )
            assert bloom.might_contain(hashes).all()
            # rerun on the completed warehouse: clean no-op
            assert crawl(spark, wh, pages, SEEDS, cfg)["waves"] == 0

    def test_missing_sidecar_rebuilt_from_seen(self, spark, pages, monkeypatch):
        """A crawl whose earlier waves committed no sidecar (here: wave 0 ran
        with the filter off) and then resumes with the filter probing must
        rebuild the filter from the committed seen tables. A filter started
        empty would miss the earlier seen URLs and crawl them again."""
        import webcrawler_woc_spark.config as cfgmod

        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        seeds = [("http://host0.example/page/10", 1.0)]
        cfg = CrawlConfig(whitelist=WL, depth=4, use_bloom=True, n_buckets=8)
        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            wh_full = Warehouse(spark, t1, n_buckets=8)
            crawl(spark, wh_full, pages, seeds, cfg)

            wh = Warehouse(spark, t2, n_buckets=8)
            crawl(spark, wh, pages, seeds,
                  CrawlConfig(whitelist=WL, depth=1, use_bloom=False, n_buckets=8))
            assert wh.manifest["waves"]["0"]["bloom"] is None
            # drop the residual-flush pseudo-wave so wave 1 runs on resume
            del wh.manifest["waves"]["1"]
            wh.manifest["last_wave"] = 0
            wh._commit_manifest()
            wh = Warehouse(spark, t2, n_buckets=8)
            crawl(spark, wh, pages, seeds, cfg)

            _, order = _state(wh)
            assert order == _state(wh_full)[1]
            assert len({url for *_, url in order}) == len(order)  # no URL twice

    def test_default_threshold_writes_no_sidecar(self, spark, pages):
        """Below the broadcast threshold the wave never probes the filter,
        so it builds and saves none: no sidecar, no bloom_update job."""
        import os

        cfg = CrawlConfig(whitelist=WL, depth=2, use_bloom=True, n_buckets=8)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp, n_buckets=8)
            crawl(spark, wh, pages, SEEDS, cfg)
            for w in ("0", "1"):
                info = wh.manifest["waves"][w]
                assert info["bloom"] is None
                assert "bloom_update" not in info["timings"]
            assert not [f for f in os.listdir(tmp) if f.endswith(".npz")]

    def test_manifest_lists_lineage(self, spark, pages):
        cfg = CrawlConfig(whitelist=WL, depth=1, use_bloom=False, n_buckets=8)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp, n_buckets=8)
            crawl(spark, wh, pages, SEEDS, cfg)
            info = wh.manifest["waves"]["0"]
            assert info["counts"]["scheduled"] == 1
            assert info["host_lineage"][0]["host"] == "host0.example"
            assert set(info["tables"]) >= {"links_out", "seen", "rejected", "frontier"}


class TestMidWaveResume:
    def test_crash_between_table_writes_skips_completed_tables(self, spark, pages):
        """Simulate a crash AFTER some table writes but BEFORE the manifest
        commit: rerunning the wave must (a) not rewrite the completed tables
        (parquet _SUCCESS present), (b) recover exact counts for the skipped
        observations, (c) commit a manifest identical to a clean run."""
        import json
        import os

        from webcrawler_woc_spark.plans.wave import cfg_fingerprint, run_wave

        cfg = CrawlConfig(whitelist=WL, depth=1, use_bloom=True, n_buckets=8)

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            # clean reference wave
            wh_ref = Warehouse(spark, t1, n_buckets=8)
            crawl(spark, wh_ref, pages, SEEDS, cfg)
            ref_counts = wh_ref.wave_counts(0)

            # crashed run: execute wave 0 fully, then erase the manifest
            # entry and restore the staging sidecar (the commit is the atomic
            # visibility point — this is exactly the state a kill between
            # writes and commit leaves, except every table finished;
            # partial-table crashes differ only in which writes get skipped)
            wh_b = Warehouse(spark, t2, n_buckets=8)
            crawl(spark, wh_b, pages, SEEDS, cfg)
            counts_first = wh_b.wave_counts(0)
            manifest_path = os.path.join(wh_b.path, "manifest.json")
            m = json.load(open(manifest_path))
            tables = m["waves"]["0"]["tables"]
            del m["waves"]["0"]
            m["last_wave"] = -1
            json.dump(m, open(manifest_path, "w"))
            staging = os.path.join(wh_b.path, "staging_wave_0.json")
            json.dump(
                {"cfg_fp": cfg_fingerprint(cfg), "input_fp": "", "wave": 0},
                open(staging, "w"),
            )

            mtimes = {
                t: os.path.getmtime(os.path.join(p, "_SUCCESS"))
                for t, p in tables.items()
            }

            # rerun the wave in a FRESH Warehouse (manifest re-read)
            wh_c = Warehouse(spark, t2, n_buckets=8)
            counts = run_wave(spark, wh_c, pages, 0, cfg)
            assert counts == counts_first == ref_counts
            for t, p in tables.items():
                assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == mtimes[t], (
                    f"{t} was rewritten despite its _SUCCESS marker"
                )
            assert not os.path.exists(staging)  # spent after the commit

    def test_changed_cfg_invalidates_crashed_attempt(self, spark, pages):
        """Leftover tables from a crashed attempt under a DIFFERENT cfg must
        be rewritten, not mixed into the resumed wave."""
        import json
        import os

        from webcrawler_woc_spark.plans.wave import cfg_fingerprint, run_wave

        cfg_old = CrawlConfig(whitelist=WL, depth=1, use_bloom=True, n_buckets=8)
        cfg_new = CrawlConfig(whitelist=WL[:2], depth=1, use_bloom=True, n_buckets=8)

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            wh_ref = Warehouse(spark, t1, n_buckets=8)
            crawl(spark, wh_ref, pages, SEEDS, cfg_new)  # clean new-cfg run

            wh_b = Warehouse(spark, t2, n_buckets=8)
            crawl(spark, wh_b, pages, SEEDS, cfg_old)  # crashed old-cfg run
            manifest_path = os.path.join(wh_b.path, "manifest.json")
            m = json.load(open(manifest_path))
            tables = m["waves"]["0"]["tables"]
            del m["waves"]["0"]
            m["last_wave"] = -1
            json.dump(m, open(manifest_path, "w"))
            staging = os.path.join(wh_b.path, "staging_wave_0.json")
            json.dump(
                {"cfg_fp": cfg_fingerprint(cfg_old), "input_fp": "", "wave": 0},
                open(staging, "w"),
            )
            mtimes = {
                t: os.path.getmtime(os.path.join(p, "_SUCCESS")) for t, p in tables.items()
            }

            wh_c = Warehouse(spark, t2, n_buckets=8)
            counts = run_wave(spark, wh_c, pages, 0, cfg_new)
            assert counts == wh_ref.wave_counts(0)  # new-cfg results, not stale
            for t, p in tables.items():
                assert os.path.getmtime(os.path.join(p, "_SUCCESS")) != mtimes[t], (
                    f"{t} kept a stale old-cfg table"
                )

    def test_changed_inputs_invalidate_crashed_attempt(self, spark, pages):
        """Same cfg but DIFFERENT inputs (seed list / corpus identity): the
        sidecar's input fingerprint must invalidate the crashed attempt's
        leftovers — cfg alone does not pin a wave's outputs."""
        import json
        import os

        from webcrawler_woc_spark.plans.wave import cfg_fingerprint, run_wave

        cfg = CrawlConfig(whitelist=WL, depth=1, use_bloom=True, n_buckets=8)

        with tempfile.TemporaryDirectory() as t2:
            wh_b = Warehouse(spark, t2, n_buckets=8)
            crawl(spark, wh_b, pages, SEEDS, cfg)  # "crashed" attempt
            manifest_path = os.path.join(wh_b.path, "manifest.json")
            m = json.load(open(manifest_path))
            tables = m["waves"]["0"]["tables"]
            del m["waves"]["0"]
            m["last_wave"] = -1
            json.dump(m, open(manifest_path, "w"))
            staging = os.path.join(wh_b.path, "staging_wave_0.json")
            # identical cfg_fp, but the crashed attempt ran with other inputs
            json.dump(
                {"cfg_fp": cfg_fingerprint(cfg), "input_fp": "other-inputs", "wave": 0},
                open(staging, "w"),
            )
            mtimes = {
                t: os.path.getmtime(os.path.join(p, "_SUCCESS")) for t, p in tables.items()
            }

            wh_c = Warehouse(spark, t2, n_buckets=8)
            run_wave(spark, wh_c, pages, 0, cfg, input_fp="")
            for t, p in tables.items():
                assert os.path.getmtime(os.path.join(p, "_SUCCESS")) != mtimes[t], (
                    f"{t} kept a table from a different-input attempt"
                )
