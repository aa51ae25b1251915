#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload sql_interactive --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root (or any checkout of it). The run

1. fixes the launch environment (``PYTHONPATH`` = repo root so Python
   workers import the package, ``SPARK_GRAFT_CPUS`` = usable cores,
   ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside ``.perfbench/``);
2. generates the seeded input tables in a child process, so the
   generator's memory stays out of ``peak_rss_mb`` (cached per seed under
   ``.perfbench/data``);
3. sets up once cold (JVM launch), timed as ``get_spark`` +
   ``inventory.load_all`` + one trivial query;
4. runs one untimed warm-up pass, then the timed closed loop for
   ``--seconds``, then the untimed output check against DuckDB;
   then sets up ``RESETUPS`` more times on the running JVM, each a fresh
   SparkContext with the package re-imported, timed as in 3: ``setup_s``
   is their median and leaves out the JVM launch;
5. with ``--trace 1``, runs the timed loop with every layer wrapped and
   Spark's event log on, and reports the per-layer split instead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the launch environment, leak counters and the
raw figures. Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RESETUPS = 5


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def launch_env() -> dict:
    """Set and return the environment every run uses."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # Departs from the session's 16g default, which is more than the
        # 15 GiB of RAM of the shared 4-core host the benchmark was sized
        # on; see "Launch environment" in README.md.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": os.path.join(WORK, "tmp"),
        # JVM temp files inside the checkout; no hsperfdata file in /tmp
        "SPARK_SUBMIT_OPTS": " ".join(p for p in (
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-XX:-UsePerfData") if p),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def set_up(extra_conf: dict) -> tuple:
    """get_spark + inventory.load_all + one trivial query, timed."""
    t0 = time.perf_counter()
    session = importlib.import_module("squirreling_spark.session")
    inventory = importlib.import_module("squirreling_spark.inventory")
    t1 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=extra_conf)
    t2 = time.perf_counter()
    inventory.load_all()
    t3 = time.perf_counter()
    spark.sql("SELECT 1 AS one").collect()
    t4 = time.perf_counter()
    return spark, {"total_s": t4 - t0, "import_s": t1 - t0,
                   "get_spark_s": t2 - t1, "load_all_s": t3 - t2,
                   "trivial_s": t4 - t3}


def re_set_up(spark, extra_conf: dict) -> tuple:
    spark.stop()
    for name in [m for m in sys.modules if m.split(".")[0] == "squirreling_spark"]:
        del sys.modules[name]
    return set_up(extra_conf)


def shut_down(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it; the Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> tuple[float, float]:
    """High-water RSS of the driver JVM and of this Python process."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    return hwm_kb(jvm_pid) / 1024.0, hwm_kb("self") / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("squirreling_spark/__init__.py", "tests/parity.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return _fail(f"{need} not found under {ROOT}; run from a "
                         "checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, HERE]
    import datagen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from "
                     f"{sorted(workloads.WORKLOADS)}")
    os.chdir(ROOT)
    env = launch_env()
    sf, _ = workloads.WORKLOADS[args.workload]
    phases = {}
    clock = time.perf_counter()

    def lap(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    data_root = os.path.join(WORK, "data")
    sf_dir = datagen.data_dir(data_root, args.seed, sf)
    subprocess.run([sys.executable, datagen.__file__, data_root,
                    str(args.seed), str(sf)], check=True)
    lap("datagen_s")

    extra = {"spark.ui.showConsoleProgress": "false"}
    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            # one plain file per application (Spark 4 rolls by default)
            "spark.eventLog.rolling.enabled": "false",
        })

    import pyspark  # noqa: F401 — imported before the set-up clock starts

    spark, cold = set_up(extra)
    try:
        lap("cold_setup_s")
        runner = workloads.Runner(spark, args.workload, args.seed, sf_dir)
        runner.warm_up()
        lap("warm_up_s")
        if args.trace:
            import layers

            report = layers.traced_phase(runner, args.seconds, cold)
            groups = report["groups"]
            e2e = {}
        else:
            groups = runner.timed(args.seconds)
            e2e = runner.end_to_end(groups)
        lap("timed_s")
        # read before the check: its DuckDB queries run in this process
        rss = peak_rss_mb(spark)
        e2e["peak_rss_mb"] = sum(rss)
        runner.check()
        lap("check_s")
        app_id = spark.sparkContext.applicationId
        # after the workload, so the extra contexts stay out of peak_rss_mb;
        # the first one stops the workload's context and ends its event log
        warm_setups = []
        for _ in range(RESETUPS):
            spark, times = re_set_up(spark, extra)
            warm_setups.append(times)
        e2e["setup_s"] = statistics.median(t["total_s"] for t in warm_setups)
        lap("resetup_s")
    finally:
        shut_down(spark)
    lap("stop_s")
    if args.trace:
        metrics = layers.finish(report, runner, log_dir, app_id)
        declared = spec["per_layer"]
        layers.write_report(report, runner, os.path.join(WORK, "out"),
                            args.workload, args.seed, env)
    else:
        metrics = e2e
        declared = spec["end_to_end"]

    info = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "trace": args.trace, "env": env, "setup_cold": cold,
        "peak_rss_jvm_python_mb": rss,
        "setup_warm": warm_setups, "end_to_end": e2e,
        "leaks": runner.leaks(), "phases": phases,
        "warm_up_op_s": runner.op_medians(0, 1),
        "timed_op_s": runner.op_medians(*groups),
        "errors": runner.errors()[:20],
    }
    print(json.dumps(info, default=str))
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        return _fail(f"run produced no value for {missing}")
    failed = runner.failed()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted(),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]} for m in declared},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
