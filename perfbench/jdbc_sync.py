"""``jdbc_sync``: the flagship refresh-and-report loop over JDBC.

Set-up loads the generated source schema into embedded Derby with
``Engine.pq_to_db`` and exports every table once with
``Engine.schema_to_pq``. One op is one ``Engine.update_schema`` cycle
and the analyst pass that reads its result: the four hot tables carry a
newer source comment and are re-exported through ``db_to_pq`` (``dsi``
with ``archive=True``), the cold tables pass the freshness check and are
skipped, ``pq_vacuum(keep_last=2)`` prunes the archive, and then
``report.Report`` queries the refreshed tables.
"""

from __future__ import annotations

import time
from pathlib import Path

from common import Layer, Workload, duck
from report import Report


class JdbcSync(Workload):
    name = "jdbc_sync"
    nominal_op_s = 2.5
    warmup_ops = 2

    def start(self) -> None:
        from db2pq_spark.core import Engine
        from db2pq_spark.sources.jdbc import JdbcSource

        f = self.facts
        self.schema = f["schema"]
        self.src = JdbcSource(
            url=f"jdbc:derby:{self.work / 'derby' / 'source'};create=true",
            driver="org.apache.derby.iapi.jdbc.AutoloadedDriver")
        self.staging = Engine(self.spark, self.inputs)
        self.rows_per_op = sum(e["rows"] for e in f["expected_exports"].values())
        self.report = Report(self.spark, self.tracer, self.checks_run)

    def _spec(self, table: str) -> dict:
        spec = dict(self.facts["export_specs"][table])
        if "bounds" in spec:
            spec["bounds"] = tuple(spec["bounds"])
        spec["type_names"] = self.facts["tables"][table]["type_names"]
        return spec

    def setup(self) -> None:
        from db2pq_spark.core import Engine

        f = self.facts
        for table in f["tables"]:
            self.staging.pq_to_db(self.schema, table, self.src)
        self.eng = Engine(self.spark, self.work / "repo")
        base = f["base_comment"]
        for table in f["hot"]:
            spec = self._spec(table)
            cols = spec.pop("source_columns")
            self.eng.schema_to_pq(self.src, self.schema, tables=[table],
                                  source_columns=cols, last_modified=base,
                                  **spec)
        cold = f["cold"]
        self.eng.schema_to_pq(self.src, self.schema, tables=cold,
                              source_columns=f["tables"][cold[0]]["columns"],
                              type_names=f["tables"][cold[0]]["type_names"],
                              last_modified=base)
        self.report.use(self.eng, self.schema, list(f["tables"]))

    def op(self, k: int) -> dict:
        from db2pq_spark.sinks.repository import pq_vacuum

        f, tr = self.facts, self.tracer
        stamp = f["op_comments"][k]
        comments = {t: (stamp if t in f["hot"] else f["base_comment"])
                    for t in f["tables"]}

        def exporter_for(table):
            def export():
                with tr.step(f"core.export_{table}"):
                    return self.eng.db_to_pq(self.src, self.schema, table,
                                             last_modified=comments[table],
                                             **self._spec(table))
            return export

        with tr.span("core.update_schema"):
            results = self.eng.update_schema(self.schema, comments, exporter_for)
        with tr.span("sinks.repository.pq_vacuum"):
            pq_vacuum(self.eng.data_dir, self.schema, keep_last=2)
        answers = self.report.run()
        decisions = {r.table: r.action for r in results}
        return {"units": self.rows_per_op, "decisions": decisions,
                "answers": answers}

    def check_op(self, k: int, result: dict) -> list[str]:
        self.checks_run.add("freshness_decisions")
        problems = self.report.check(k, result.pop("answers"))
        want = self.facts["expected_decisions"]
        if result["decisions"] != want:
            bad = {t: a for t, a in result["decisions"].items() if want.get(t) != a}
            problems.append(f"op {k}: freshness decisions differ from the seeded split: {bad}")
        return problems

    def side_measure(self, k: int) -> dict:
        """Per traced op, untimed: plan building, the JDBC read of each
        hot export driven through the ``noop`` sink, freshness reads and
        the analyst queries' plans."""
        from db2pq_spark.plans.plan import build_plan
        from db2pq_spark.sinks.parquet_sink import get_modified_pq, table_path
        from db2pq_spark.sources.jdbc import jdbc_read_options, read_jdbc

        out = {"build_plan_s": 0.0, "read_jdbc_s": 0.0, "scan_s": 0.0,
               "fetchsize": []}
        for table in self.facts["hot"]:
            spec = self._spec(table)
            plan_kw = {k2: spec.get(k2) for k2 in
                       ("keep", "drop", "rename", "col_types", "where")}
            t0 = time.perf_counter()
            plan = build_plan(spec["source_columns"], **plan_kw)
            plan.to_sql(f'"{self.schema}"."{table}"')
            out["build_plan_s"] += time.perf_counter() - t0
            bounds = spec.get("bounds")
            opts = jdbc_read_options(
                self.src, plan=plan, schema=self.schema, table=table,
                type_names=spec["type_names"],
                partition_column=spec.get("partition_column"),
                lower_bound=bounds[0] if bounds else None,
                upper_bound=bounds[1] if bounds else None,
                num_partitions=spec.get("num_partitions"))
            out["fetchsize"].append(int(opts["fetchsize"]))
            t0 = time.perf_counter()
            df = read_jdbc(self.spark, opts)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            out["read_jdbc_s"] += t1 - t0
            out["scan_s"] += t2 - t0
        t0 = time.perf_counter()
        for table in self.facts["tables"]:
            get_modified_pq(table_path(self.eng.data_dir, self.schema, table))
        out["get_modified_pq_s"] = time.perf_counter() - t0
        out["plan_s"] = self.report.plan_s()
        return out

    def check_run(self, done: list[int]) -> list[tuple[int | None, str]]:
        from gen import jdbc_checksum_sql
        import pyarrow.parquet as pq

        problems = []
        con = duck()
        self.checks_run |= {"export_checksum", "archive_versions"}
        for table, want in self.facts["expected_exports"].items():
            path = Path(self.eng.data_dir) / self.schema / f"{table}.parquet"
            rel = f"read_parquet('{path}/*.parquet')"
            schema = pq.read_schema(next(path.glob("*.parquet")))
            n, h = con.sql(jdbc_checksum_sql(table, schema, rel, exported=True)).fetchone()
            if n != want["rows"] or h != want["checksum"]:
                problems.append((None, f"{table}: exported rows/checksum {n}/{h} != "
                                f"source {want['rows']}/{want['checksum']}"))
        con.close()
        archived = self.archived_versions()
        if archived != 2:
            problems.append((None, f"archive holds {archived} dsi versions, want 2"))
        problems += [(None, msg) for msg in self.report.check_derived()]
        return problems

    def archived_versions(self) -> int:
        from db2pq_spark.sinks.repository import pq_list_files

        return len(pq_list_files(self.eng.data_dir, self.schema, archive=True))

    def schema_dir(self) -> Path:
        return Path(self.eng.data_dir) / self.schema

    def layers(self, traced: list[int], ops: dict[int, dict]) -> dict[str, Layer]:
        tr = self.tracer
        side = [ops[k]["side"] for k in traced]
        exports = {t: tr.durations(f"core.export_{t}") for t in self.facts["hot"]}
        per_op_export = [sum(v) for v in zip(*exports.values())]
        n_skip = len(self.facts["cold"])
        scan = [s["scan_s"] for s in side]
        out = {
            "plans.build_plan_s": Layer.med([s["build_plan_s"] for s in side], "s"),
            "sources.jdbc.read_jdbc_s": Layer.med([s["read_jdbc_s"] for s in side], "s"),
            "sources.jdbc.scan_s": Layer.med(scan, "s"),
            "sources.jdbc.scan_rows_per_s": Layer.med(
                [self.rows_per_op / s for s in scan], "1/s"),
            "sources.jdbc.fetchsize": Layer.mean(
                [sum(s["fetchsize"]) / len(s["fetchsize"]) for s in side], "count"),
            "sinks.parquet_sink.write_self_s": Layer.med(
                [e - s for e, s in zip(per_op_export, scan)], "s"),
            "sinks.parquet_sink.get_modified_pq_s": Layer.med(
                [s["get_modified_pq_s"] for s in side], "s"),
            "sinks.repository.pq_vacuum_s": Layer.med(
                tr.durations("sinks.repository.pq_vacuum"), "s"),
            "sinks.repository.archived_versions_end": Layer(self.archived_versions(), "count"),
            "sync.modified.updates_per_op": Layer.mean(
                [sum(a == "updated" for a in ops[k]["decisions"].values())
                 for k in traced], "count"),
            "sync.modified.skips_per_op": Layer.mean(
                [sum(a == "skipped" for a in ops[k]["decisions"].values())
                 for k in traced], "count"),
            "core.update_pq_skip_s": Layer.med(
                [t / n_skip for t in tr.self_times("core.update_schema")], "s"),
            "core.update_schema_s": Layer.med(tr.durations("core.update_schema"), "s"),
        }
        for t, d in exports.items():
            out[f"core.export_{t}_s"] = Layer.med(d, "s")
        out.update(self.report.layers([s["plan_s"] for s in side]))
        return out
