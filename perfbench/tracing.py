"""Traced run: spans recorded around the engine's public calls, reduced
together with the Spark event log into the per-layer metrics.

Wrapped callables (replaced on install, restored on uninstall):

* ``plans.crawl.run_wave``                 — one ``wave`` span per wave;
* ``Warehouse.write_wave_table``           — a ``write`` span, and the job
  description ``perfbench:write:<table>`` set in the calling (pool) thread so
  the write's Spark jobs are attributed;
* ``Warehouse.commit_wave`` / ``read_waves`` — ``commit`` / ``read`` spans;
* ``operators.bloom.build_bucket_bitmaps`` — a ``bloom_update`` span, tagged;
* ``operators.bloom.make_might_contain_udf`` — a ``bloom_probe`` marker.

The workloads add ``op`` spans (one crawl or one query set) and
``leaf`` spans (one query). A Spark job belongs to the innermost span whose
interval holds its submission time; per-wave manifest ``counts`` and
``timings`` come from the workload.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

from workloads import CorpusQueries

DESC = "spark.job.description"
TAG = "perfbench:"
STATE_TABLES = (
    "frontier", "seen", "rejected", "links_out", "flagged", "extracted_text", "crawl_order",
)
# per-wave metric -> (unit-row key, unit); reported as the mean over waves
PER_WAVE = {
    "wave.jobs": ("jobs", "count"),
    "wave.stages": ("stages", "count"),
    "wave.tasks": ("tasks", "count"),
    "wave.driver_gap_s": ("driver_gap_s", "s"),
    "wave.fill_s": ("fill_s", "s"),
    "wave.pool_s": ("pool_s", "s"),
    "state.write_s": ("write_s", "s"),
    **{f"state.write_s.{t}": (f"write_s.{t}", "s") for t in STATE_TABLES},
    "state.files_written": ("files_written", "count"),
    "state.bytes_written": ("bytes_written", "B"),
    "state.commit_s": ("commit_s", "s"),
    "state.read_paths": ("read_paths", "count"),
    "state.read_s": ("read_s", "s"),
    **{name: (name, unit) for name, unit in (
        ("politeness.schedule_s", "s"), ("politeness.scheduled", "count"),
        ("politeness.deferred", "count"), ("fetch.ok", "count"), ("fetch.failed", "count"),
        ("fetch.meta_s", "s"), ("extract.children_s", "s"), ("extract.links", "count"),
        ("extract.py_bytes_in", "B"), ("extract.py_bytes_out", "B"),
        ("extract.py_time_s", "s"), ("extract.py_crossings", "count"),
        ("routing.dedup_s", "s"), ("routing.rejected_s", "s"), ("routing.deduped", "count"),
        ("routing.new_frontier", "count"), ("routing.rejected", "count"),
        ("bloom.update_s", "s"), ("bloom.sidecar_bytes", "B"),
    )},
}
# stage accumulable name -> job metric
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "data sent to Python workers": "py_in",
    "data returned from Python workers": "py_out",
    "time to run Python workers": "py_ms",
}


def files_and_bytes(path: str) -> tuple[int, int]:
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording

    @contextlib.contextmanager
    def span(self, kind: str, label: str):
        rec = {"kind": kind, "label": label, "start": time.time() * 1000, "attrs": {}}
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def leaf(self, name: str):
        """Span and job description for one query leaf."""
        with self.tagged(f"query:{name}"), self.span("leaf", name):
            yield

    @contextlib.contextmanager
    def tagged(self, description: str):
        """Job description for the Spark jobs this thread submits."""
        previous = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, TAG + description)
        try:
            yield
        finally:
            self.sc.setLocalProperty(DESC, previous)

    def _patch(self, owner, name: str, make_wrapper) -> None:
        original = getattr(owner, name)
        setattr(owner, name, functools.wraps(original)(make_wrapper(original)))
        self._patches.append((owner, name, original))

    def install(self) -> None:
        import webcrawler_woc_spark.operators.bloom as bloom
        import webcrawler_woc_spark.plans.crawl as crawl
        from webcrawler_woc_spark.plans.state import Warehouse

        def run_wave(orig):
            def wrapper(spark, wh, pages, wave, *args, **kwargs):
                with self.span("wave", f"wave {wave}"):
                    return orig(spark, wh, pages, wave, *args, **kwargs)
            return wrapper

        def write_wave_table(orig):
            def wrapper(wh, table, *args, **kwargs):
                with self.tagged(f"write:{table}"), self.span("write", table) as rec:
                    path = orig(wh, table, *args, **kwargs)
                rec["attrs"]["files"], rec["attrs"]["bytes"] = files_and_bytes(path)
                return path
            return wrapper

        def commit_wave(orig):
            def wrapper(*args, **kwargs):
                with self.span("commit", "commit"):
                    return orig(*args, **kwargs)
            return wrapper

        def read_waves(orig):
            def wrapper(wh, table, up_to_wave=None):
                last = wh.manifest["last_wave"] if up_to_wave is None else up_to_wave
                with self.span("read", table) as rec:
                    rec["attrs"]["paths"] = sum(
                        1 for w, info in wh.manifest["waves"].items()
                        if int(w) <= last and table in info.get("tables", {})
                    )
                    return orig(wh, table, up_to_wave)
            return wrapper

        def build_bucket_bitmaps(orig):
            def wrapper(*args, **kwargs):
                with self.tagged("bloom_update"), self.span("bloom_update", "bloom_update"):
                    return orig(*args, **kwargs)
            return wrapper

        def make_might_contain_udf(orig):
            def wrapper(*args, **kwargs):
                with self.span("bloom_probe", "bloom_probe"):
                    return orig(*args, **kwargs)
            return wrapper

        self._patch(crawl, "run_wave", run_wave)
        self._patch(Warehouse, "write_wave_table", write_wave_table)
        self._patch(Warehouse, "commit_wave", commit_wave)
        self._patch(Warehouse, "read_waves", read_waves)
        self._patch(bloom, "build_bucket_bitmaps", build_bucket_bitmaps)
        self._patch(bloom, "make_might_contain_udf", make_might_contain_udf)

    def uninstall(self) -> None:
        while self._patches:
            owner, name, original = self._patches.pop()
            setattr(owner, name, original)

    # ------------------------------------------------------------- reducing

    def per_layer(self, workload, ops, session_start_s: float, log_dir: str,
                  untraced_wall_s: float | None) -> dict:
        """Reduce spans + event log to the per-layer metrics; print the
        per-unit table (one row per wave or query)."""
        jobs = reduce_event_log(log_dir)
        op_spans = sorted((s for s in self.spans if s["kind"] == "op"), key=lambda s: s["start"])
        unit_kind = "wave" if workload.name == "frontier_deep" else "leaf"
        units = sorted((s for s in self.spans if s["kind"] == unit_kind), key=lambda s: s["start"])
        inner = [s for s in self.spans if s["kind"] not in ("op", "wave", "leaf")]

        for job in jobs:
            job["op"] = _holder(op_spans, job["submit"])
            job["unit"] = _holder(units, job["submit"])
        rows = []
        for op_i, (op_span, op) in enumerate(zip(op_spans, ops)):
            op_units = [u for u in units if op_span["start"] <= u["start"] <= op_span["end"]]
            for u, facts in zip(op_units, op.units):
                mine = [j for j in jobs if j["unit"] is u]
                in_unit = [s for s in inner if u["start"] <= s["start"] <= u["end"]]
                rows.append(_unit_row(op_i, u, facts, mine, in_unit))

        m = {
            "session.start_s": (session_start_s, "s"),
            "corpus.build_s": (workload.facts.get("corpus.build_s", 0.0), "s"),
            "corpus.pages": (workload.facts.get("corpus.pages", 0), "count"),
            "setup.warmup_s": (workload.facts.get("warmup_s", 0.0), "s"),
        }
        n_ops = max(len(op_spans), 1)
        crawl_rows = [r for r in rows if r["kind"] == "wave"]

        def per(rows_, key):
            return statistics.fmean(r.get(key, 0) for r in rows_) if rows_ else 0.0

        m["wave.n"] = (len(crawl_rows) / n_ops, "count")
        m["wave.s_p50"] = (
            statistics.median(r["wall_s"] for r in crawl_rows) if crawl_rows else 0.0, "s")
        for name, (key, unit) in PER_WAVE.items():
            m[name] = (per(crawl_rows, key), unit)
        links = per(crawl_rows, "extract.links")
        m["routing.dedup_ratio"] = (
            per(crawl_rows, "routing.deduped") / links if links else 0.0, "ratio")
        m["bloom.probe_waves"] = (sum(r.get("probed", 0) for r in crawl_rows) / n_ops, "count")

        op_jobs = [j for j in jobs if j["op"] is not None]
        for key, field, scale, unit in (
            ("jobs", None, 1, "count"), ("tasks", "tasks", 1, "count"),
            ("executor_run_s", "run_ms", 1e-3, "s"), ("executor_cpu_s", "cpu_ns", 1e-9, "s"),
            ("gc_s", "gc_ms", 1e-3, "s"), ("shuffle_write_bytes", "shuffle_write", 1, "B"),
            ("shuffle_read_bytes", "shuffle_read", 1, "B"),
        ):
            total = len(op_jobs) if field is None else sum(j[field] for j in op_jobs) * scale
            m[f"spark.{key}"] = (total / n_ops, unit)
        leaf_rows = [r for r in rows if r["kind"] == "leaf"]
        for leaf in CorpusQueries.LEAVES:
            mine = [r for r in leaf_rows if r["label"] == leaf]
            m[f"query.{leaf}.s"] = (per(mine, "wall_s"), "s")
            m[f"query.{leaf}.jobs"] = (per(mine, "jobs"), "count")
            m[f"query.{leaf}.shuffle_bytes"] = (per(mine, "shuffle_write"), "B")
            m[f"query.{leaf}.py_bytes_in"] = (per(mine, "extract.py_bytes_in"), "B")
        m["trace.unattributed_jobs"] = (
            sum(1 for j in op_jobs if j["unit"] is None) / n_ops, "count")
        m["trace.untagged_jobs"] = (
            sum(1 for j in op_jobs if not (j["desc"] or "").startswith(TAG)) / n_ops, "count")

        _print_rows(workload.name, rows)
        walls = [op.wall_s for op in ops if op.ok]
        if untraced_wall_s and walls:
            traced = statistics.median(walls)
            print(f"trace overhead: traced wall_s {traced:.3f} / untraced wall_s "
                  f"{untraced_wall_s:.3f} - 1 = {traced / untraced_wall_s - 1:+.3f}")
        else:
            print("trace overhead: no untraced run of this workload and seed to compare with")
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _holder(spans: list[dict], t_ms: float):
    """The span whose interval holds ``t_ms`` (spans do not overlap)."""
    for s in spans:
        if s["start"] <= t_ms <= s["end"]:
            return s
    return None


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _unit_row(op_i: int, span: dict, facts: dict, jobs: list[dict], inner: list[dict]) -> dict:
    wall_ms = span["end"] - span["start"]
    # the seen-filter build is a Python map too; its bitmaps are not page data
    extract = [j for j in jobs if j["desc"] != TAG + "bloom_update"]
    row = {
        "op": op_i,
        "kind": span["kind"],
        "label": span["label"],
        "wall_s": wall_ms / 1e3,
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "driver_gap_s": (wall_ms - _covered_ms(
            [(j["submit"], j["end"]) for j in jobs], span["start"], span["end"])) / 1e3,
        "shuffle_write": sum(j["shuffle_write"] for j in jobs),
        "extract.py_bytes_in": sum(j["py_in"] for j in extract),
        "extract.py_bytes_out": sum(j["py_out"] for j in extract),
        "extract.py_time_s": sum(j["py_ms"] for j in extract) / 1e3,
        "extract.py_crossings": sum(j["py_nodes"] for j in extract),
    }
    if "counts" in facts:  # a crawl wave: manifest counts and timings
        c, t = facts["counts"], facts["timings"]
        writes = [s for s in inner if s["kind"] == "write"]
        row.update({
            "fill_s": sum(v for k, v in t.items() if k.startswith("cache_")),
            "pool_s": max((v for k, v in t.items() if not k.startswith("cache_")), default=0.0),
            "write_s": sum(s["end"] - s["start"] for s in writes) / 1e3,
            "files_written": sum(s["attrs"].get("files", 0) for s in writes),
            "bytes_written": sum(s["attrs"].get("bytes", 0) for s in writes),
            "commit_s": sum(s["end"] - s["start"] for s in inner if s["kind"] == "commit") / 1e3,
            "read_paths": sum(s["attrs"]["paths"] for s in inner if s["kind"] == "read"),
            "read_s": sum(s["end"] - s["start"] for s in inner if s["kind"] == "read") / 1e3,
            "politeness.schedule_s": t.get("cache_scheduled", 0.0),
            "politeness.scheduled": c["scheduled"],
            "politeness.deferred": c["frontier_in"] - c["scheduled"],
            "fetch.ok": c["fetched"],
            "fetch.failed": c["fetch_failed"],
            "fetch.meta_s": t.get("cache_fetched", 0.0),
            "extract.children_s": t.get("cache_children", 0.0),
            "extract.links": c["extracted_links"],
            "routing.dedup_s": t.get("cache_deduped", 0.0),
            "routing.rejected_s": t.get("cache_rejected", 0.0),
            "routing.deduped": facts["deduped"],
            "routing.new_frontier": c["new_frontier"],
            "routing.rejected": c["new_rejected"],
            "bloom.update_s": sum(
                s["end"] - s["start"] for s in inner if s["kind"] == "bloom_update") / 1e3,
            "bloom.sidecar_bytes": facts["bloom_bytes"],
            "probed": int(any(s["kind"] == "bloom_probe" for s in inner)),
        })
        for table in STATE_TABLES:
            row[f"write_s.{table}"] = sum(
                s["end"] - s["start"] for s in writes if s["label"] == table) / 1e3
    return row


def _print_rows(workload: str, rows: list[dict]) -> None:
    print(f"per-unit table ({workload}):")
    print("  op  unit                      wall_s  jobs stages  tasks  gap_s   py_in_B  py_x"
          "  fill_s  pool_s  write_s")
    for r in rows:
        print(f"  {r['op']:>2}  {r['label']:<24}{r['wall_s']:>7.3f}{r['jobs']:>6}{r['stages']:>7}"
              f"{r['tasks']:>7}{r['driver_gap_s']:>7.3f}{r['extract.py_bytes_in']:>10}"
              f"{r['extract.py_crossings']:>6}{r.get('fill_s', 0):>8.3f}{r.get('pool_s', 0):>8.3f}"
              f"{r.get('write_s', 0):>9.3f}")


def reduce_event_log(log_dir: str) -> list[dict]:
    """One dict per Spark job: submit/end (epoch ms), description, and the
    sums over its completed stages. A stage counts for the first job that
    lists it (later jobs list it again only as skipped)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "appstatus")):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"], "end": e["Submission Time"],
                "desc": props.get(DESC),
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = {"stages": 1, "tasks": info["Number of Tasks"], "py_nodes": 0}
            for a in info.get("Accumulables", []):
                key = STAGE_METRICS.get(a["Name"])
                if key is None:
                    continue
                value = int(a["Value"])
                acc[key] = acc.get(key, 0) + value
                if key == "py_in" and value > 0:
                    acc["py_nodes"] += 1
            stages[info["Stage ID"]] = acc
    out = []
    for jid, job in sorted(jobs.items()):
        sums = {k: 0 for k in ("stages", "tasks", "py_nodes", *set(STAGE_METRICS.values()))}
        for sid, owner in stage_job.items():
            if owner == jid and sid in stages:
                for k, v in stages[sid].items():
                    sums[k] += v
        out.append({"id": jid, **job, **sums})
    return out
