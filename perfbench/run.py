#!/usr/bin/env python3
"""The repository benchmark: the SBOM pipeline and the query registry, timed
end to end and by layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sbom_merge --seed 1 --seconds 15 --trace 0

Each run generates its workload's inputs from ``--seed`` into a private
directory under ``.perfbench_runs/`` (an SBOM corpus, or the tables the
registry queries read), starts a ``local[N]`` Spark session (``N`` = usable
CPUs) and a loopback ClickHouse endpoint, and runs a closed loop of passes:
one client starts the next pass only after the previous one has finished.
The first passes warm the JVM and are thrown away; the timed passes follow
for ``--seconds`` seconds of pass time.  Every pass's outputs are checked
against an oracle (pure Python for the SBOM pipeline, DuckDB for the
queries), outside the timings.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds traced
passes and prints the per-layer metrics.  The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

import tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")

MIN_TIMED_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "input_mb_per_s": "MB/s",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "engine.build_s": "s",
    "engine.jobs": "count",
    "engine.scan_passes": "count",
    "ops.normalize.read_s": "s",
    "ops.normalize.read_tasks": "count",
    "ops.normalize.convert_s": "s",
    "ops.normalize.docs_read": "count",
    "ops.normalize.docs_malformed": "count",
    "ops.merge.filter_s": "s",
    "ops.merge.docs_kept": "count",
    "ops.merge.dedup_s": "s",
    "ops.merge.rows_in": "count",
    "ops.merge.rows_out": "count",
    "ops.merge.dedup_keep_ratio": "ratio",
    "ops.merge.shuffle_bytes": "B",
    "ops.merge.spill_bytes": "B",
    "ops.merge.assemble_s": "s",
    "ops.components.explode_s": "s",
    "ops.components.rows": "count",
    "ops.components.license_map_s": "s",
    "ops.components.licenses_patched": "count",
    "io.sinks.lake_write_s": "s",
    "io.sinks.lake_files": "count",
    "io.sinks.lake_bytes": "B",
    "io.sinks.lake_bytes_per_row": "B",
    "io.clickhouse.insert_s": "s",
    "io.clickhouse.requests": "count",
    "io.clickhouse.bytes_posted": "B",
    "io.clickhouse.rows_acked": "count",
    "io.clickhouse.failed_requests": "count",
    "queries.builder_s": "s",
    "queries.exec_s": "s",
    "queries.plan_s": "s",
    "queries.builder_jobs": "count",
    "queries.exec_jobs": "count",
    "queries.shuffle_bytes": "B",
    "queries.spill_bytes": "B",
    "queries.persistent_rdds": "count",
    **{f"queries.{q}.{part}": "s" for q in sorted(tables.QUERIES) for part in ("builder_s", "exec_s")},
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
WORKLOADS = ["sbom_merge", "registry_headline", "sbom_normal"]


def process_age() -> float:
    """Seconds since this process started (Linux)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "clickbom_spark", "engine.py"))


def configure_env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the run directory.

    The JVM keeps its default JIT and the library's default heap; the only
    JVM option is ``-XX:-UsePerfData``, which stops it writing its
    performance-counter file outside the run directory.
    """
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(usable_cpus()),
        # Spark's Python workers (UDFs, Python data sources) import the engine too.
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    os.environ.pop("SPARK_DRIVER_MEMORY", None)


def setup_session():
    """Imports, ``get_spark`` and one trivial job.  Returns the session and
    the process age when imports ended and when the job ended."""
    sys.path.insert(0, ROOT)
    import pyspark  # noqa: F401

    import clickbom_spark
    import clickbom_spark.engine  # noqa: F401
    import clickbom_spark.io.clickhouse  # noqa: F401
    import clickbom_spark.io.sinks  # noqa: F401
    import clickbom_spark.queries  # noqa: F401
    from clickbom_spark.session import get_spark

    if not os.path.abspath(clickbom_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"clickbom_spark imported from outside {ROOT}")
    imported = process_age()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, imported, process_age()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Loop:
    """The closed loop: runs passes, checks each one, keeps the tallies."""

    def __init__(self, spark, workload, run_dir: str):
        self.spark = spark
        self.workload = workload
        self.out_dir = os.path.join(run_dir, "out")
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0

    def run(self, body=None) -> float | None:
        """One pass and its check; the pass's wall time, or None if it
        raised or its output was wrong.  ``body(out)`` replaces the plain
        untraced pass."""
        from workloads import CheckFailed

        self.attempted += 1
        out = os.path.join(self.out_dir, f"pass-{self.attempted}")
        start = time.perf_counter()
        try:
            (body or (lambda o: self.workload.run_pass(self.spark, o)))(out)
            seconds = time.perf_counter() - start
            self.workload.check(out)
            self.check_s += time.perf_counter() - start - seconds
            return seconds
        except CheckFailed as e:
            print(f"output check failed: {e}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.failed += 1
        return None

    def timed(self, seconds: float) -> list[float]:
        """Passes until they add up to ``seconds`` (at least
        MIN_TIMED_PASSES); gives up after MIN_TIMED_PASSES failures."""
        times: list[float] = []
        while len(times) < MIN_TIMED_PASSES or sum(times) < seconds:
            if self.failed >= MIN_TIMED_PASSES:
                break
            t = self.run()
            if t is not None:
                times.append(t)
        return times


def make_workload(name: str, root: str, seed: int, clickhouse):
    import workloads

    if name == "registry_headline":
        from registry import RegistryHeadline

        return RegistryHeadline(root, seed)
    return workloads.SBOM_WORKLOADS[name](root, seed, clickhouse)


def run(args, run_dir: str) -> int:
    configure_env(run_dir)
    spark, imported, ready = setup_session()
    from loopback import LoopbackClickHouse
    from spark_stats import SparkStats

    phases = {"setup": ready}
    try:
        clickhouse = LoopbackClickHouse(usable_cpus()).start()
        try:
            t = time.perf_counter()
            wl = make_workload(args.workload, os.path.join(run_dir, "data"), args.seed, clickhouse)
            phases["inputs"] = time.perf_counter() - t
            loop = Loop(spark, wl, run_dir)
            t = time.perf_counter()
            warmup = [loop.run() for _ in range(wl.warmup_passes)]
            phases["warm-up"] = time.perf_counter() - t
            t = time.perf_counter()
            times = loop.timed(args.seconds)
            phases["timed"] = time.perf_counter() - t
            if not times:
                print("perfbench: no pass completed", file=sys.stderr)
                return 1
            pass_s = statistics.median(times)
            if args.trace:
                t = time.perf_counter()
                metrics = dict.fromkeys(PER_LAYER, 0.0)
                metrics.update(wl.trace(loop, SparkStats(spark)))
                metrics.update(
                    {
                        "session.import_s": imported,
                        "session.start_s": ready - imported,
                        "session.warmup_s": sum(w for w in warmup if w is not None),
                        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(),
                        "trace.overhead_s": metrics["trace.pass_s"] - pass_s,
                    }
                )
                phases["traced"] = time.perf_counter() - t
        finally:
            clickhouse.close()
    finally:
        t = time.perf_counter()
        stop_session(spark)
        phases["stop"] = time.perf_counter() - t
    phases["checks"] = loop.check_s
    print(f"warm-up {warmup}; timed {times}", file=sys.stderr)
    print("wall by phase: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()), file=sys.stderr)
    if args.trace:
        units = PER_LAYER
    else:
        units = END_TO_END
        metrics = {"setup_s": ready, "pass_s": pass_s, "input_mb_per_s": wl.input_bytes / 1e6 / pass_s}
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=16.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not program_present():
        print(f"perfbench: the engine (clickbom_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(RUNS_DIR, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
