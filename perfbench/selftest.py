"""Fast self-test of the benchmark: tiny inputs, the fewest timed ops
(two untraced; in the traced run two untraced and two traced) per
workload.

    python3 perfbench/selftest.py [workload ...]

For every workload it runs ``run.py`` once untraced and once traced and
asserts that the result line has exactly the keys the benchmark
contract names, that every metric listed in ``BENCHMARK.json`` is
emitted with its unit, that no op failed, and that every correctness
check of the workload ran. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

CHECKS = {
    "jdbc_sync": {"freshness_decisions", "export_checksum", "archive_versions",
                  "oracle", "derived_table"},
    "corpus_ingest": {"planted_recall", "pair_jaccard", "exact_flags",
                      "accepted_survivors"},
}
#: per-layer metrics each workload must report as measured (non-zero)
EXERCISED = {
    "jdbc_sync": ["plans.build_plan_s", "sources.jdbc.scan_s",
                  "sources.jdbc.fetchsize", "sinks.parquet_sink.write_self_s",
                  "sinks.repository.archived_versions_end",
                  "sync.modified.updates_per_op", "sync.modified.skips_per_op",
                  "core.update_schema_s", "core.export_lineitem_s",
                  "core.register_views_s", "core.sql_to_pq_s",
                  "workload_relational.q01_pricing_summary_s",
                  "workload_relational.plan_s", "spark.shuffle_write_bytes_per_op"],
    "corpus_ingest": ["operators.dedup.minhash_incremental_s",
                      "operators.dedup.planted_recall", "core.merge_pq_s",
                      "core.merge_bytes_written_per_op",
                      "python_workers.cpu_s_per_op", "spark.persisted_rdds_end"],
}
COMMON = ["session.get_spark_s", "spark.jobs_per_op", "spark.tasks_per_op",
          "jvm.jit_compile_s", "process.cpu_s_per_op", "host.cpus",
          "bench.tracing_overhead", "sinks.parquet_sink.files_per_table"]


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])


def check(workload: str, spec: dict) -> None:
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        diag, result = run(workload, trace)
        where = f"{workload} trace={trace}"
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
        assert result["correct"] is True and result["failed"] == 0, \
            f"{where}: {diag['failures']}"
        timed = 4 if trace else 2
        assert result["attempted"] == diag["ops"]["warmup"] + timed, where
        assert diag["ops"]["traced"] == timed // 2 * trace, where
        want = {m["name"]: m["unit"] for m in spec[kind]}
        got = result["metrics"]
        assert set(got) == set(want), f"{where}: {set(got) ^ set(want)}"
        for name, unit in want.items():
            assert got[name]["unit"] == unit, f"{where}: {name} unit"
            assert isinstance(got[name]["value"], float), f"{where}: {name}"
        assert CHECKS[workload] <= set(diag["checks_run"]), \
            f"{where}: checks run {diag['checks_run']}"
        if trace == 0:
            zero = [n for n, m in got.items() if m["value"] <= 0]
        else:
            zero = [n for n in EXERCISED[workload] + COMMON
                    if got[n]["value"] <= 0]
            if workload == "corpus_ingest":
                assert got["operators.dedup.planted_recall"]["value"] == 1.0, where
        assert not zero, f"{where}: not measured: {zero}"
        print(f"ok {where}")


def main(argv: list[str]) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload in argv or list(CHECKS):
        check(workload, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
