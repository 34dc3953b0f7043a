"""The read side of a ``jdbc_sync`` op: an analyst pass over the tables
the op has just refreshed.

``register_views`` over the source mirror, the registry queries that
read ``lineitem`` alone (q01 and q06) over ``<data_dir>/<schema>``, their
small answers collected, and one ``sql_to_pq`` that writes a derived
aggregate to a ``reports`` schema. Every answer is checked against the
registry's DuckDB oracle.
"""

from __future__ import annotations

import importlib.util
import time
from pathlib import Path

from common import Layer, duck

QUERIES = ("q01_pricing_summary", "q06_forecast_revenue")
REPORTS = "reports"
DERIVED = "flag_status_summary"
DERIVED_SQL = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def _check_oracle(root: Path):
    """The registry's own comparison helpers (``scripts/check_oracle.py``)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", root / "scripts" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Report:
    """The analyst pass over ``schema`` of a repository. Built before
    set-up (loading the registry is not program work); ``use`` names the
    repository once set-up has made it."""

    def __init__(self, spark, tracer, checks_run: set[str]):
        from db2pq_spark import workload

        registry = workload.queries()
        oracles = workload.oracles()
        self.fns = {q: registry[q] for q in QUERIES}
        self.oracle_sql = {q: oracles[q] for q in QUERIES}
        self.co = _check_oracle(Path(__file__).resolve().parent.parent)
        self.spark, self.tracer = spark, tracer
        self.checks_run = checks_run
        self.oracle = None

    def use(self, eng, schema: str, tables: list[str]) -> None:
        self.eng, self.schema, self.tables = eng, schema, tables
        self.sf_dir = str(Path(eng.data_dir) / schema)

    def run(self) -> dict:
        """One pass; returns each query's (columns, types, rows)."""
        tr = self.tracer
        with tr.step("core.register_views"):
            self.eng.register_views(self.schema, self.tables)
        answers = {}
        for q, fn in self.fns.items():
            with tr.step(f"workload_relational.{q}"):
                df = fn(self.spark, self.sf_dir)
                answers[q] = (df.columns, [t for _, t in df.dtypes], df.collect())
        with tr.step("core.sql_to_pq"):
            self.eng.sql_to_pq(DERIVED_SQL, REPORTS, DERIVED)
        return answers

    def plan_s(self) -> float:
        """Driver-side plan time: DataFrame build plus the executed plan."""
        t0 = time.perf_counter()
        for fn in self.fns.values():
            fn(self.spark, self.sf_dir)._jdf.queryExecution().executedPlan()
        return time.perf_counter() - t0

    def _duck(self):
        con = duck()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                    f"'{self.sf_dir}/lineitem.parquet/*.parquet')")
        return con

    def check(self, k: int, answers: dict) -> list[str]:
        """Every answer of op ``k`` against its oracle, compared the way
        the registry's checker (``scripts/check_oracle.py``) compares.
        The oracle answers are built once: every op exports the same
        source rows."""
        co = self.co
        if self.oracle is None:
            con = self._duck()
            self.oracle = {}
            for q, sql in self.oracle_sql.items():
                rel = con.sql(sql)
                self.oracle[q] = (co.schema_map(rel.columns, rel.types),
                                  co.norm_rows(rel.columns, rel.fetchall()))
            con.close()
        self.checks_run.add("oracle")
        problems = []
        for q, (cols, types, rows) in answers.items():
            want_types, want_rows = self.oracle[q]
            if co.schema_map(cols, types) != want_types:
                problems.append(f"op {k} {q}: columns or types differ from the oracle")
            elif co.norm_rows(cols, [tuple(r) for r in rows]) != want_rows:
                problems.append(f"op {k} {q}: {len(rows)} rows differ from the oracle")
        return problems

    def check_derived(self) -> list[str]:
        """The derived table the last op wrote, against DuckDB."""
        co = self.co
        con = self._duck()
        self.checks_run.add("derived_table")
        path = Path(self.eng.data_dir) / REPORTS / f"{DERIVED}.parquet"
        stored = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        want = con.sql(DERIVED_SQL)
        same = (co.norm_rows(stored.columns, stored.fetchall())
                == co.norm_rows(want.columns, want.fetchall()))
        con.close()
        return [] if same else [f"{DERIVED}: stored rows differ from DuckDB"]

    def layers(self, plan_s: list[float]) -> dict[str, Layer]:
        tr = self.tracer
        out = {
            "core.register_views_s": Layer.med(tr.durations("core.register_views"), "s"),
            "core.sql_to_pq_s": Layer.med(tr.durations("core.sql_to_pq"), "s"),
            "workload_relational.plan_s": Layer.med(plan_s, "s"),
        }
        for q in QUERIES:
            out[f"workload_relational.{q}_s"] = Layer.med(
                tr.durations(f"workload_relational.{q}"), "s")
        return out
