"""What the two workloads share: the workload interface, the per-layer
metric record and small file helpers."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Layer:
    """One per-layer metric value with its unit."""

    value: float
    unit: str

    @staticmethod
    def med(values: list[float], unit: str) -> "Layer":
        return Layer(statistics.median(values) if values else 0.0, unit)

    @staticmethod
    def mean(values: list[float], unit: str) -> "Layer":
        return Layer(sum(values) / len(values) if values else 0.0, unit)


class Workload:
    """A closed-loop workload: ``setup`` runs once, then ops run one
    after another.

    Subclasses implement ``start`` (no program work), ``setup``, ``op``
    (returns at least ``{"units": work done}``), ``check_op`` (cheap,
    untimed, per op), ``check_run`` (once per run, untimed),
    ``side_measure`` (untimed extras after each traced op), ``live_bytes``
    and ``layers`` (per-layer metrics from the traced ops)."""

    name = ""
    #: typical op latency on a 4-core host; sets the timed op count
    nominal_op_s = 1.0
    warmup_ops = 1

    def __init__(self, spark, work: Path, inputs: Path, facts: dict,
                 tracer, cores: int):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.facts = facts
        self.tracer = tracer
        self.cores = cores
        #: names of the correctness checks that ran, for the self-test
        self.checks_run: set[str] = set()

    def start(self) -> None:
        pass

    def check_op(self, k: int, result: dict) -> list[str]:
        return []

    def side_measure(self, k: int) -> dict:
        return {}


def dir_bytes(path: Path, skip: tuple[str, ...] = ()) -> int:
    """Bytes of the regular files under ``path``, skipping top-level
    entries named in ``skip``."""
    total = 0
    for entry in Path(path).iterdir():
        if entry.name in skip:
            continue
        if entry.is_dir():
            for root, _, files in os.walk(entry):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        else:
            total += entry.stat().st_size
    return total


def duck():
    """A DuckDB connection with the UTC session zone the engine uses."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def parquet_layout(table_dirs: list[Path]) -> dict[str, float]:
    """Files per table, row groups per file and stored bytes per row of
    the Parquet files under ``table_dirs``, read from the footers."""
    import pyarrow.parquet as pq

    files = groups = rows = size = 0
    for d in table_dirs:
        for f in sorted(Path(d).rglob("*.parquet")):
            if f.name.startswith("."):
                continue
            meta = pq.ParquetFile(f).metadata
            files += 1
            groups += meta.num_row_groups
            rows += meta.num_rows
            size += f.stat().st_size
    return {"files_per_table": files / max(1, len(table_dirs)),
            "row_groups_per_file": groups / max(1, files),
            "bytes_per_row": size / max(1, rows)}
