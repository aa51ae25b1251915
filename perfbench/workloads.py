"""The benchmark's workloads, their timed loops and output checks.

Every workload is a closed loop on one client thread. An operation (op)
is one user-visible request: a SQL string through ``engine.execute_sql``
drained with ``QueryResult.rows()``, or one inventory builder whose
DataFrame is written to a sink. After every op the leak counters are read
from outside (persisted RDDs, temp views, cached storage), untimed.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
from dataclasses import dataclass, field

import sqlwork
from spans import Tracer

# Training-data builders, each run with the relation cache emptied first:
# LSH dedup, a sketch that persists state, a Python-UDF decode and a
# write-then-read source.
CORPUS_OPS = [
    "dedup_minhash_lsh", "cms_top_terms", "image_pixel_decode",
    "source_jsonl_roundtrip",
]
WORKLOADS = {
    # name -> (scale factor of its input tables, builder ops or None for SQL)
    "sql_interactive": (0.1, None),
    "corpus_cold": (0.01, CORPUS_OPS),
}
MB = 1024.0 * 1024.0


@dataclass
class Op:
    id: int
    name: str
    group: int                 # pass (builders) or burst (SQL) number
    traced: bool = False
    wall: float = 0.0          # call -> last row / sink commit
    first_row: float = 0.0     # call -> first row (sink: commit)
    build: float = 0.0         # builder call or execute_sql call
    rows: int = 0
    error: str | None = None
    persisted_after: int = 0
    temp_views_after: int = 0
    storage_mb_after: float = 0.0
    job_groups: dict = field(default_factory=dict)   # group -> phase
    window: tuple = (0.0, 0.0)                       # epoch ms
    columns: list = field(default_factory=list)


class Runner:
    def __init__(self, spark, workload: str, seed: int, sf_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.seed = seed
        self.sf_dir = sf_dir
        # set by the traced run: ops whose name is in ``traced_names`` run
        # with the tracer on, the others with it off
        self.tracer: Tracer | None = None
        self.traced_names: set = set()
        self.rng = random.Random(seed)
        self.ops: list[Op] = []
        self.mismatches: list[str] = []
        self.outputs: dict = {}      # builder name -> warm-up result frame
        self.checked = 0
        self._epoch = time.time() - time.perf_counter()
        self._bursts = None
        self.sql_bursts: list = []     # bursts run, with results, for the check
        self.builders = WORKLOADS[workload][1]   # None: the SQL workload

    # --- bookkeeping --------------------------------------------------------
    def _new_op(self, name: str, group: int) -> Op:
        op = Op(len(self.ops), name, group)
        op.traced = self.tracer is not None and name in self.traced_names
        if self.tracer is not None:
            self.tracer.op = op.id if op.traced else None
            self.tracer.enabled = op.traced
        self.ops.append(op)
        return op

    def _span(self, name: str):
        if self.tracer is None or not self.tracer.enabled:
            return None
        return self.tracer.begin(name)

    def _end(self, idx) -> None:
        if idx is not None:
            self.tracer.end(idx)

    def _set_group(self, op: Op, phase: str) -> None:
        group = f"perfbench-{op.id}-{phase}"
        op.job_groups[group] = phase
        self.sc.setJobGroup(group, f"{self.workload} {op.name}")

    def _after(self, op: Op, t0: float, t1: float) -> None:
        op.window = ((self._epoch + t0) * 1e3, (self._epoch + t1) * 1e3)
        jsc = self.sc._jsc
        op.persisted_after = jsc.getPersistentRDDs().size()
        op.storage_mb_after = sum(
            i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
        ) / MB
        op.temp_views_after = sum(
            1 for t in self.spark.catalog.listTables() if t.isTemporary
        )

    @staticmethod
    def _inventory():
        return sys.modules["squirreling_spark.inventory"]

    # --- one op -------------------------------------------------------------
    def run_sql(self, q: sqlwork.Query, group: int) -> list:
        from squirreling_spark import engine

        op = self._new_op(q.template, group)
        rows: list = []
        self._set_group(op, "build")
        root = self._span("op")
        t0 = time.perf_counter()
        try:
            res = engine.execute_sql(
                self.spark, q.sql, tables=q.tables, like_mode=q.like_mode,
                strict=q.strict,
            )
            op.job_groups[res.job_group] = "exec"
            t1 = time.perf_counter()
            it = res.rows()
            idx = self._span("spark.first_row")
            first = next(it, None)
            self._end(idx)
            t2 = time.perf_counter()
            idx = self._span("spark.drain")
            if first is not None:
                rows = [first, *it]
            self._end(idx)
            t3 = time.perf_counter()
            op.build, op.first_row, op.wall = t1 - t0, t2 - t0, t3 - t0
            op.rows = len(rows)
            op.columns = res.columns
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            t3 = time.perf_counter()
            op.error = f"{type(exc).__name__}: {exc}"[:500]
        self._end(root)
        self._after(op, t0, t3)
        return rows

    def run_builder(self, name: str, group: int, collect: bool = False) -> None:
        """Build the inventory query and run it into the noop sink, or with
        ``collect`` into a pandas frame kept for the output check."""
        op = self._new_op(name, group)
        self.spark.catalog.clearCache()      # untimed: start cold
        root = self._span("op")
        t0 = time.perf_counter()
        try:
            self._set_group(op, "build")
            idx = self._span("queries.build")
            df = self._inventory().QUERIES[name](self.spark, self.sf_dir)
            self._end(idx)
            t1 = time.perf_counter()
            self._set_group(op, "exec")
            idx = self._span("spark.sink")
            if collect:
                self.outputs[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            self._end(idx)
            t2 = time.perf_counter()
            op.build, op.wall = t1 - t0, t2 - t0
            op.first_row = op.wall   # a sink's output exists at commit
        except Exception as exc:  # noqa: BLE001
            t2 = time.perf_counter()
            op.error = f"{type(exc).__name__}: {exc}"[:500]
        self._end(root)
        self._after(op, t0, t2)

    # --- loops --------------------------------------------------------------
    def _sql_burst(self, group: int) -> None:
        burst = next(self._bursts)
        burst.results = []
        for q in burst.queries:
            burst.results.append((q, self.run_sql(q, group), self.ops[-1]))
        self.sql_bursts.append(burst)

    def _builder_pass(self, group: int, collect: bool = False) -> None:
        order = list(self.builders)
        self.rng.shuffle(order)
        for name in order:
            self.run_builder(name, group, collect)

    def warm_up(self) -> None:
        """One untimed pass over the builders, or one SQL round on small
        tables, so every op has run once (JIT, codegen, Python workers)
        before timing. The builders' results are what the output check
        compares, so no extra pass re-runs them."""
        names = self.builders
        if names is None:
            self._bursts = sqlwork.bursts(
                f"{self.seed}-warm-up", self.sf_dir, sqlwork.SIZE_STRATA[:1])
            for _ in range(sqlwork.ROUND):
                self._sql_burst(0)
            # the timed loop starts a fresh stream on a round boundary
            self._bursts = sqlwork.bursts(self.seed, self.sf_dir)
        else:
            self._builder_pass(0, collect=True)

    def op_names(self) -> list[str]:
        return list(self.builders or sqlwork.TEMPLATE_NAMES)

    def timed(self, seconds: float) -> tuple[int, int]:
        """Closed loop for at least ``seconds`` and at least one unit, in
        whole units: two passes over the builders, or one round of SQL
        bursts (every template once). Returns the range of group (pass or
        burst) numbers it ran."""
        names = self.builders
        unit = sqlwork.ROUND if names is None else 2
        first = max((op.group for op in self.ops), default=0) + 1
        group, t0 = first, time.perf_counter()
        while (group - first) % unit or group == first or (
                time.perf_counter() - t0 < seconds):
            if names is None:
                self._sql_burst(group)
            else:
                self._builder_pass(group)
            group += 1
        return first, group

    # --- output check (untimed, after the timed passes) ---------------------
    def check(self) -> None:
        if self.builders is None:
            self._check_sql()
        else:
            self._check_builders()

    def _check_builders(self) -> None:
        from tests import parity

        oracles = self._inventory().ORACLES
        for name in self.builders:
            if name not in self.outputs:
                continue          # its warm-up op failed and is counted
            self.checked += 1
            try:
                want = parity.duck_frame(oracles[name], self.sf_dir)
                diff = _differs(self.outputs[name], want)
            except Exception as exc:  # noqa: BLE001
                diff = f"{type(exc).__name__}: {exc}"
            if diff:
                self.mismatches.append(f"{name}: {diff}"[:500])

    def _check_sql(self) -> None:
        import duckdb
        import pandas as pd

        for burst in self.sql_bursts:
            con = duckdb.connect()
            try:
                for name, table in burst.duck.items():
                    con.register("_src", table)
                    con.execute(f'CREATE TABLE "{name}" AS SELECT * FROM _src')
                    con.unregister("_src")
                for name in sqlwork.PARQUET_TABLES:
                    con.execute(
                        f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{name}.parquet')"
                    )
                for q, rows, op in burst.results:
                    if op.error is not None:
                        continue
                    self.checked += 1
                    try:
                        diff = _differs(pd.DataFrame(rows, columns=op.columns),
                                        con.execute(q.duck_sql).df())
                    except Exception as exc:  # noqa: BLE001
                        diff = f"{type(exc).__name__}: {exc}"
                    if diff:
                        self.mismatches.append(
                            f"{q.template} (op {op.id}): {diff}; sql={q.sql!r}"[:500])
            finally:
                con.close()

    # --- results ------------------------------------------------------------
    def attempted(self) -> int:
        return len(self.ops) + self.checked

    def failed(self) -> int:
        return sum(op.error is not None for op in self.ops) + len(self.mismatches)

    def errors(self) -> list[str]:
        return [f"{op.name} (op {op.id}): {op.error}" for op in self.ops
                if op.error] + self.mismatches

    def end_to_end(self, groups: tuple[int, int]) -> dict:
        ops = [op for op in self.ops
               if groups[0] <= op.group < groups[1] and op.error is None]
        if not ops:
            raise RuntimeError(f"every timed op failed: {self.errors()[:3]}")
        walls = sorted(op.wall for op in ops)
        firsts = sorted(op.first_row for op in ops)
        # a SQL pass is one round (every template once), a builder pass
        # one pass over the builders
        per_pass = sqlwork.ROUND if self.builders is None else 1
        passes: dict[int, float] = {}
        for op in ops:
            key = (op.group - groups[0]) // per_pass
            passes[key] = passes.get(key, 0.0) + op.wall
        return {
            "latency_p50_ms": percentile(walls, 50) * 1e3,
            "latency_p90_ms": percentile(walls, 90) * 1e3,
            "first_row_p50_ms": percentile(firsts, 50) * 1e3,
            "pass_s": statistics.median(passes.values()),
            "mean_op_s": sum(walls) / len(walls),
            "timed_ops": len(ops),
            "timed_passes": len(passes),
        }

    def op_medians(self, lo: int, hi: int) -> dict:
        """Median wall per op name over groups ``lo`` .. ``hi - 1``."""
        walls: dict[str, list] = {}
        for op in self.ops:
            if lo <= op.group < hi and op.error is None:
                walls.setdefault(op.name, []).append(op.wall)
        return {k: round(statistics.median(v), 4) for k, v in sorted(walls.items())}

    def leaks(self) -> dict:
        return {
            "persisted_rdds_after_max": max(op.persisted_after for op in self.ops),
            "persisted_rdds_after_last": self.ops[-1].persisted_after,
            "temp_views_after_max": max(op.temp_views_after for op in self.ops),
            "temp_views_after_last": self.ops[-1].temp_views_after,
            "storage_mb_after_max": max(op.storage_mb_after for op in self.ops),
        }


def _differs(got, want) -> str | None:
    """None when the two frames hash equal under the parity gate's
    canonical form (tests/parity.py), else a short description."""
    from tests import parity

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    if (parity._canon_cells(parity._canon(got))
            != parity._canon_cells(parity._canon(want))):
        return f"values differ over {len(got)} rows"
    return None


def percentile(sorted_values: list[float], q: float) -> float:
    """Linear-interpolated percentile of an ascending list."""
    if not sorted_values:
        return float("nan")
    pos = (len(sorted_values) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(sorted_values) - 1)
    return sorted_values[lo] + (sorted_values[hi] - sorted_values[lo]) * (pos - lo)
