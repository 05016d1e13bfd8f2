"""Benchmark entry point for the crawl engine.

    python3 perfbench/run.py --workload frontier_deep --seed 1 --seconds 8 --trace 0

Runs one workload in one driver process at ``local[<cores>]``: generates the
seeded inputs, sets up the engine (the set-up time is reported), runs the
workload's operation in a closed loop for ``--seconds`` (at least once),
checks every operation against an independent oracle outside the timed
region, and prints a human-readable table followed, as the LAST stdout line,
by one JSON object::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the wrappers in ``tracing.py`` and reports the per-layer
metrics instead. Everything the run writes stays under ``perfbench/.work``.
See ``perfbench/README.md`` for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"


def pin_environment(run_dir: str) -> int:
    """Pin what the engine reads from the environment; return the core count.

    Must run before pyspark starts the JVM: the Python workers import the
    engine through PYTHONPATH, and every scratch file Spark, the JVM and
    Python write goes under ``run_dir``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM spark-submit runs
    os.environ.pop("SPARK_GRAFT_MAX_PART_BYTES", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    import tempfile

    tempfile.tempdir = tmp
    return cores


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    return conf


def environment_record(spark, cores: int) -> dict:
    import platform

    import pyarrow

    return {
        "cores": cores,
        "master": spark.sparkContext.master,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def end_to_end(setup_s: float, ops: list, spark) -> dict:
    """The end-to-end metrics of one run (medians over its operations)."""
    good = [op for op in ops if op.ok]
    med = statistics.median
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": med(op.wall_s for op in good), "unit": "s"},
        "pages_per_s": {"value": med(op.pages / op.wall_s for op in good), "unit": "1/s"},
        "urls_per_s": {"value": med(op.urls / op.urls_s for op in good), "unit": "1/s"},
        "jvm_peak_rss_mb": {"value": jvm_peak_rss_mb(spark), "unit": "MB"},
    }


def report(workload, ops: list, metrics: dict) -> None:
    """Human-readable report: every end-to-end metric, the ones only a crawl
    defines, and one row per operation."""
    good = [op for op in ops if op.ok]
    print(f"workload {workload.name}: {workload.why}")
    print(f"  ops attempted {len(ops)}, failed {len(ops) - len(good)}, "
          f"ops_failed_frac {(len(ops) - len(good)) / len(ops):.3f}")
    for name, m in metrics.items():
        print(f"  {name} {m['value']:.3f} {m['unit']}")
    med = statistics.median
    waves = [w for op in good for w in op.wave_walls]
    if waves:
        print(f"  wave_s_p50 {med(waves):.3f} s over {len(waves)} waves")
        print(f"  stored_bytes_per_page {med(op.stored_bytes / op.pages for op in good):.1f} B")
    else:
        print("  wave_s_p50 and stored_bytes_per_page: not defined (no crawl)")
    for i, op in enumerate(ops):
        status = "ok" if op.ok else "FAILED: " + "; ".join(op.problems)[:300]
        print(f"  op {i}: wall {op.wall_s:.3f} s, pages {op.pages}, urls {op.urls} -- {status}")
        print("    " + ", ".join(f"{u['unit']} {u['wall_s']:.3f} s" for u in op.units))


def _proc_stat(pid) -> tuple[str, int] | None:
    """(state, ppid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1])


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        stat = _proc_stat(entry) if entry.isdigit() else None
        if stat is not None:
            children.setdefault(stat[1], []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def stop_engine(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    def alive(p):
        stat = _proc_stat(p)
        return stat is not None and stat[0] != "Z"

    while any(alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    t_setup = time.perf_counter()
    sys.path[:0] = [ROOT, HERE]
    try:
        import webcrawler_woc_spark  # noqa: F401  the program under test
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cores = pin_environment(run_dir)

    from webcrawler_woc_spark.session import get_spark

    tracer = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=spark_conf(run_dir, bool(args.trace)),
        )
        session_start_s = time.perf_counter() - t0
        workload = workloads.WORKLOADS[args.workload](spark, args.seed, run_dir)
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracer.install()
        workload.setup()
        setup_s = time.perf_counter() - t_setup
        workload.prepare_oracle()

        ops = []
        deadline = time.perf_counter() + args.seconds
        while not ops or time.perf_counter() < deadline:
            ops.append(workload.run_op(len(ops), tracer))

        env = environment_record(spark, cores)
        metrics = end_to_end(setup_s, ops, spark) if any(op.ok for op in ops) else {}
        if tracer is not None:
            tracer.uninstall()
            stop_engine(spark)
            spark = None
            metrics = tracer.per_layer(
                workload, ops, session_start_s, os.path.join(run_dir, "eventlog"),
                untraced_wall_s=workloads.cached_wall(args.workload, args.seed),
            )
        elif metrics:
            workloads.cache_wall(args.workload, args.seed, metrics["wall_s"]["value"])
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not op.ok for op in ops)
    print(f"environment {json.dumps(env, sort_keys=True)}")
    if not args.trace:
        report(workload, ops, metrics)
    if failed == len(ops):
        print("perfbench: every operation failed", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
