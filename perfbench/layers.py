"""Per-layer attribution for the traced run (``--trace 1``).

The traced run replaces the timed loop with two loops that each trace half
of the op names, with every layer wrapped (``spans.py``) and Spark's event
log on. For each traced operation the spans' self times are summed per
layer; the layers and the residual
(time inside the operation but outside every layer span: the benchmark's
own glue) add up to the operation's wall time exactly, and the residual is
reported. Spark's task metrics come from the event log (``eventlog.py``).
Every metric is a mean per operation unless its name says otherwise.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

import eventlog
from spans import (
    DRIVER_PACKAGES,
    Tracer,
    instrument_driver_packages,
    instrument_front_end,
    layer_of,
)

# "spark" = the client waiting on Spark jobs (first row, drain, sink);
# "analyze" = spark.sql calls (parse + Catalyst analysis).
LAYERS = ("functions", "engine", "analyze", "queries", *DRIVER_PACKAGES, "spark")


def traced_phase(runner, seconds: float, cold: dict) -> dict:
    """Two timed loops with every layer wrapped. Op names are split in two
    halves: the first loop traces one half, the second loop the other, and
    the ops left untraced give the same-moment baseline for the tracing
    overhead (a JIT still warming would bias a before/after comparison)."""
    tracer = Tracer()
    t0 = time.perf_counter()
    instrument_front_end(tracer, runner.spark)
    wrapped = instrument_driver_packages(tracer)
    runner.tracer = tracer
    names = sorted(runner.op_names())
    runner.traced_names = set(names[0::2])
    lo, _ = runner.timed(seconds)
    runner.traced_names = set(names[1::2])
    _, hi = runner.timed(seconds)
    runner.tracer = None
    tracer.op, tracer.enabled = None, False
    return {"tracer": tracer, "groups": (lo, hi), "t0": t0,
            "cold_setup": cold, "functions_wrapped": wrapped}


def _overhead_pct(ops: list) -> float:
    """Traced against untraced wall, summed over op names that ran both
    ways."""
    walls: dict = defaultdict(lambda: [0.0, 0.0])
    for op in ops:
        walls[op.name][op.traced] += op.wall
    both = [w for w in walls.values() if w[0] and w[1]]
    untraced = sum(w[0] for w in both)
    return 100.0 * (sum(w[1] for w in both) / untraced - 1.0) if untraced else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _per_op_spans(tracer: Tracer, op_ids: set) -> dict:
    """op id -> {"wall", "residual", "layers": {layer: self s},
    "calls": {span name: [inclusive s, count]}, "analyze_in_engine": [s, n]}."""
    own = tracer.self_times()
    spans = tracer.spans
    out: dict = {}
    for i, s in enumerate(spans):
        if s["op"] not in op_ids:
            continue
        rec = out.setdefault(s["op"], {
            "wall": 0.0, "residual": 0.0,
            "layers": {layer: 0.0 for layer in LAYERS},
            "calls": defaultdict(lambda: [0.0, 0]),
            "analyze_in_engine": [0.0, 0],
        })
        dur = s["end"] - s["start"]
        if s["name"] == "op":
            rec["wall"] += dur
            rec["residual"] += own[i]
            continue
        rec["layers"][layer_of(s["name"])] += own[i]
        call = rec["calls"][s["name"]]
        call[0] += dur
        call[1] += 1
        if s["name"] == "spark.sql":
            p = s["parent"]
            while p is not None and spans[p]["name"] != "engine.execute_sql":
                p = spans[p]["parent"]
            if p is not None:
                rec["analyze_in_engine"][0] += dur
                rec["analyze_in_engine"][1] += 1
    return out


def finish(report: dict, runner, log_dir: str, app_id: str) -> dict:
    """Per-layer metrics of the traced loop; call after ``spark.stop()``
    so the event log is complete."""
    lo, hi = report["groups"]
    loop = [op for op in runner.ops if lo <= op.group < hi and op.error is None]
    ops = [op for op in loop if op.traced]
    ids = {op.id for op in ops}
    per_op = _per_op_spans(report["tracer"], ids)
    is_sql = runner.builders is None
    sql_ops, builder_ops = (ops, []) if is_sql else ([], ops)

    jobs = eventlog.read_jobs(eventlog.log_files(log_dir, app_id))
    groups = {g: (op.id, phase) for op in loop for g, phase in op.job_groups.items()}
    windows = [(op.id, *op.window) for op in loop]
    spark_ops = eventlog.per_operation(jobs, groups, windows)
    by_op = spark_ops["by_op"]
    report["unattributed_jobs"] = spark_ops["unattributed_jobs"]
    report["per_op"] = {
        op.id: {"name": op.name, **{k: v for k, v in per_op.get(op.id, {}).items()
                                    if k != "calls"},
                "calls": dict(per_op.get(op.id, {}).get("calls", {})),
                "spark": {ph: by_op.get((op.id, ph), {}) for ph in ("build", "exec")}}
        for op in ops
    }

    def call_ms(name: str) -> float:
        return 1e3 * _mean(per_op[i]["calls"].get(name, [0.0])[0] for i in ids)

    def spark_total(field: str) -> float:
        return _mean(sum(by_op.get((i, ph), {}).get(field, 0.0)
                         for ph in ("build", "exec")) for i in ids)

    n_exec = sum(per_op[i]["calls"].get("engine.execute_sql", [0, 0])[1] for i in ids)
    n_analyze = sum(per_op[i]["analyze_in_engine"][1] for i in ids)
    cold = report["cold_setup"]
    wall = _mean(per_op[i]["wall"] for i in ids)
    m = {
        "session.get_spark_s": cold["get_spark_s"],
        "inventory.load_all_s": cold["load_all_s"],
        "functions.rewrite_ms": call_ms("functions.rewrite"),
        "functions.strict_ms": call_ms("functions.strict"),
        "functions.register_ms": call_ms("functions.register"),
        "engine.execute_sql_ms": call_ms("engine.execute_sql"),
        "engine.self_ms": 1e3 * _mean(per_op[i]["layers"]["engine"] for i in ids),
        "engine.analyze_ms": 1e3 * _mean(per_op[i]["analyze_in_engine"][0] for i in ids),
        "engine.analyze_calls_per_query": n_analyze / n_exec if n_exec else 0.0,
        "engine.first_row_ms": call_ms("spark.first_row"),
        "engine.drain_ms": call_ms("spark.drain"),
        "engine.rows_returned": _mean(op.rows for op in sql_ops),
        "engine.temp_views_after": max(op.temp_views_after for op in runner.ops),
        "queries.build_s": _mean(op.build for op in builder_ops),
        "queries.build_jobs": _mean(
            by_op.get((op.id, "build"), {}).get("jobs", 0.0) for op in builder_ops),
        "queries.exec_s": _mean(op.wall - op.build for op in builder_ops),
        "queries.exec_jobs": _mean(
            by_op.get((op.id, "exec"), {}).get("jobs", 0.0) for op in builder_ops),
        "cache.persisted_rdds_after": max(op.persisted_after for op in runner.ops),
        "cache.storage_mb": max(op.storage_mb_after for op in runner.ops),
        "trace.op_wall_ms": 1e3 * wall,
        "trace.residual_ms": 1e3 * _mean(per_op[i]["residual"] for i in ids),
        "trace.overhead_pct": _overhead_pct(loop),
        "trace.unattributed_jobs": float(report["unattributed_jobs"]),
    }
    for pkg in DRIVER_PACKAGES:
        m[f"{pkg}.self_s"] = _mean(per_op[i]["layers"][pkg] for i in ids)
    for layer in LAYERS:
        m[f"layer.{layer}_ms"] = 1e3 * _mean(per_op[i]["layers"][layer] for i in ids)
    for f in eventlog.FIELDS:
        m[f"spark.{f}"] = spark_total(f)
    report["metrics"] = m
    return m


def write_report(report: dict, runner, out_dir: str, workload: str, seed: int,
                 env: dict) -> str:
    """Write spans, per-op breakdown and metrics as one JSON file."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{workload}-seed{seed}.json")
    doc = {
        "workload": workload, "seed": seed, "env": env,
        "groups": report["groups"], "metrics": report["metrics"],
        "functions_wrapped": report["functions_wrapped"],
        "unattributed_jobs": report["unattributed_jobs"],
        "ops": [vars(op) for op in runner.ops],
        "per_op": report["per_op"],
        "spans": report["tracer"].dump(report["t0"]),
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, default=str)
    return path
