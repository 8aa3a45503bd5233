"""The benchmark's workloads: seeded inputs, one pass, and its checks.

A pass is the unit the benchmark times. Each workload returns, per
pass, the wall and CPU seconds of the timed parts, the operations it
attempted with the ones that raised, and the problems its checks
found. Checks run outside the timed parts.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen_bagh
import gen_tables
import oracle
from tracing import Tracer, sample_tree


@dataclass
class PassResult:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # per query or per phase, for the trace file
    rows: list[dict] = field(default_factory=list)


class _Timer:
    """Accumulates wall and tree-CPU seconds over the timed parts of a pass."""

    def __init__(self, res: PassResult):
        self.res = res

    def __enter__(self):
        # the /proc samples stay outside the wall time
        self.c0 = sample_tree()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        c1 = sample_tree()
        self.cpu_s = c1.cpu_s - self.c0.cpu_s
        self.python_cpu_s = c1.python_cpu_s - self.c0.python_cpu_s
        self.res.wall_s += self.wall_s
        self.res.cpu_s += self.cpu_s


def _fail(op: str) -> str:
    print(f"operation {op} failed:\n{traceback.format_exc()}", file=sys.stderr)
    return f"{op}: raised"


class QueryMix:
    """Registered analytics and corpus queries over a seeded table copy,
    each collected to the driver and compared with its DuckDB oracle."""

    name = "query_mix"
    QUERIES = (
        # relational: six table loads, joins and shuffles, no Python worker
        "q05_nation_revenue",
        # corpus: an explode-amplified shuffle, k-means collects at build
        # time, and the one query here that runs Python workers
        "decontam_ngram_overlap",
        "semdedup_prune_autok",
        "ann_lsh_topk",
    )
    SCALE = gen_tables.SCALE

    def __init__(self, spark, work: str, seed: int, slots: int):
        from dso_import_spark.queries import REGISTRY

        self.spark = spark
        self.slots = slots
        self.specs = {q: REGISTRY[q] for q in self.QUERIES}
        self.data = os.path.join(work, "tables")
        self.sizes = gen_tables.write_tables(seed, self.SCALE, self.data)
        self.tables = {q: oracle.tables_read(s.oracle) for q, s in self.specs.items()}
        self.rows_per_pass = sum(
            self.sizes[t]["rows"] for q in self.QUERIES for t in self.tables[q]
        )
        self.expected: dict[str, list] | None = None
        self._unchecked: list[tuple[PassResult, dict]] = []

    def compute_expected(self) -> None:
        db = oracle.QueryOracle(self.data, threads=self.slots)
        try:
            self.expected = {q: db.rows(s.oracle) for q, s in self.specs.items()}
        finally:
            db.close()
        for res, results in self._unchecked:
            self._check(res, results)
        self._unchecked.clear()

    def warm_up(self) -> PassResult:
        """Two untimed passes: the JIT is still compiling through the
        second pass after a cold start (its CPU seconds keep falling), and
        the timed passes should measure the served steady state."""
        first, second = self.run_pass(), self.run_pass()
        second.problems += first.problems
        return second

    def run_pass(self, tracer: Tracer | None = None) -> PassResult:
        res = PassResult()
        results = {}
        for q, spec in self.specs.items():
            res.attempted += 1
            row = {"query": q, "tables": self.tables[q]}
            try:
                if tracer is None:
                    with _Timer(res):
                        results[q] = spec.spark(self.spark, self.data).collect()
                else:
                    tracer.phase = q
                    with _Timer(res) as t_build:
                        with tracer.span("queries_pkg.build"), tracer.job_group(q, "build"):
                            df = spec.spark(self.spark, self.data)
                    with _Timer(res) as t_exec:
                        with tracer.job_group(q, "exec"):
                            results[q] = df.collect()
                    row.update(build_s=t_build.wall_s, exec_s=t_exec.wall_s,
                               python_cpu_s=t_build.python_cpu_s + t_exec.python_cpu_s,
                               cpu_s=t_build.cpu_s + t_exec.cpu_s,
                               load_s=tracer.total("sources.registry.load_table", q))
            except Exception:
                res.failed += 1
                res.problems.append(_fail(q))
            res.rows.append(row)
        if self.expected is None:
            self._unchecked.append((res, results))
        else:
            self._check(res, results)
        return res

    def _check(self, res: PassResult, results: dict) -> None:
        for q, rows in results.items():
            err = oracle.compare_rows(rows, self.expected[q])
            if err:
                res.problems.append(f"{q}: {err}")

    def input_summary(self) -> dict:
        return {"scale": self.SCALE, "tables": self.sizes, "rows_per_pass": self.rows_per_pass}


class BaghImport:
    """The paper's import: load a seeded GOB extract into an empty
    warehouse, then replay a changed extract through ``BagHJob``."""

    name = "bagh_import"
    SCALE = gen_bagh.SCALE
    TABLES = ["buurt", "pand", "verblijfsobject"]

    def __init__(self, spark, work: str, seed: int, slots: int):
        self.spark = spark
        self.work = work
        self.gob = os.path.join(work, "gob")
        self.exp = gen_bagh.write_extracts(seed, self.gob, self.SCALE)
        self.rows_per_pass = sum(
            s["rows"] for ph in self.exp["sizes"].values() for s in ph.values()
        )
        self.n = 0
        self.last_warehouse: str | None = None

    def compute_expected(self) -> None:
        """The expectations come with the extracts."""

    def warm_up(self) -> PassResult:
        """No warm-up pass: the import runs as a batch job in a fresh JVM, so its
        cold start (code generation, JIT, Python workers) is paid on
        every run and belongs in the timed pass."""
        return PassResult()

    def run_pass(self, tracer: Tracer | None = None) -> PassResult:
        from dso_import_spark.plans.bagh_job import BagHJob

        res = PassResult()
        self.n += 1
        wh = os.path.join(self.work, f"warehouse-{self.n}")
        if self.last_warehouse:
            shutil.rmtree(self.last_warehouse, ignore_errors=True)
        self.last_warehouse = wh
        before = None
        ok = True
        for phase in ("load", "replay"):
            res.attempted += 1
            if not ok:  # a replay on a failed load is counted, not run
                res.failed += 1
                continue
            extract = os.path.join(self.gob, "v1" if phase == "load" else "v2")
            row = {"phase": phase}
            try:
                job = BagHJob(self.spark, extract, wh)
                with _Timer(res) as t:
                    if tracer is None:
                        reports = job.run(tables=self.TABLES)
                    else:
                        tracer.phase = phase
                        with tracer.span("plans.bagh_job.BagHJob.run"), \
                                tracer.job_group("job", phase):
                            reports = job.run(tables=self.TABLES)
                row.update(wall_s=t.wall_s, cpu_s=t.cpu_s, python_cpu_s=t.python_cpu_s)
            except Exception:
                ok = False
                res.failed += 1
                res.problems.append(_fail(f"bagh {phase}"))
                res.rows.append(row)
                continue
            res.problems += oracle.check_reports(reports, self.exp, phase)
            problems, before = oracle.check_warehouse(wh, self.exp, phase, before)
            res.problems += problems
            row["reports"] = [vars(r) for r in reports]
            res.rows.append(row)
        return res

    def warehouse_files(self) -> tuple[int, float]:
        """Data files and MB committed in the last pass's warehouse."""
        n, size = 0, 0
        for d, _, files in os.walk(self.last_warehouse):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        return n, size / (1024.0 * 1024.0)

    def input_summary(self) -> dict:
        return {"scale": self.SCALE, "extracts": self.exp["sizes"],
                "rows_per_pass": self.rows_per_pass}


WORKLOADS = {w.name: w for w in (BaghImport, QueryMix)}
