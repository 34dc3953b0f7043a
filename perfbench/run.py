"""spark2pq benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload jdbc_sync --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, starts Spark ``local[N]`` (N = the CPUs this process may use),
runs the workload's set-up, untimed warm-up ops and then a fixed,
seeded sequence of timed ops, checks the outputs, and prints one JSON
object as the last line of standard output. With ``--trace 0`` it reports
the end-to-end metrics; with ``--trace 1`` half the timed ops are traced,
in the order untraced, traced, traced, untraced, and the per-layer
metrics are reported. The metric names and units are
those listed in ``BENCHMARK.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

MIN_TIMED_OPS = 2
#: a traced run needs two untraced and two traced timed ops at least
MIN_TRACED_TIMED_OPS = 4


def _load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _workloads() -> dict:
    from corpus_ingest import CorpusIngest
    from jdbc_sync import JdbcSync

    return {w.name: w for w in (JdbcSync, CorpusIngest)}


def op_plan(cls, seconds: int, trace: int) -> tuple[int, int]:
    """(warm-up ops, timed ops). The count is fixed by the arguments,
    never by a clock: ``seconds`` is spent at the workload's nominal op
    latency on a 4-core host."""
    least = MIN_TRACED_TIMED_OPS if trace else MIN_TIMED_OPS
    return cls.warmup_ops, max(least, round(seconds / cls.nominal_op_s))


def is_traced(i: int) -> bool:
    """Whether timed op ``i`` of a traced run is traced: untraced,
    traced, traced, untraced, repeated, so that a drift that is linear
    in the op index weighs the same on both sides."""
    return i % 4 in (1, 2)


def _isolate(work: Path, cores: int) -> None:
    """Keep every file Spark, the JVM and Derby write inside ``work``."""
    for sub in ("tmp", "spark-local", "derby"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        TMPDIR=str(work / "tmp"),
        # HotSpot maps its perf counters to a file under /tmp whatever
        # the tmpdir; PerfDisableSharedMem keeps them in process memory
        JAVA_TOOL_OPTIONS=" ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work / 'derby'}",
            "-XX:+PerfDisableSharedMem"))),
    )


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from probes import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        rest = [p for p in process_tree(os.getpid()) if p.pid != os.getpid()]
        if not rest:
            return
        time.sleep(0.2)
    for p in rest:
        os.kill(p.pid, 9)


class Run:
    def __init__(self, args, spec: dict):
        import probes

        self.args = args
        self.spec = spec
        self.cores = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
        self.out_dir = ROOT / ".perfbench_out"
        self.steal0, self.total0 = probes.cpu_times()
        self.load0 = probes.loadavg()
        self.durations: dict[int, float] = {}
        self.ops: dict[int, dict] = {}
        self.failed: set[int] = set()
        self.traced: list[int] = []
        self.op_cost: dict[int, dict] = {}
        self.check_s = 0.0

    def execute(self) -> dict:
        import probes
        from gen import generate

        args = self.args
        cls = _workloads()[args.workload]
        n_warm, n_timed = op_plan(cls, args.seconds, args.trace)
        self.n_warm, self.n_ops = n_warm, n_warm + n_timed
        _isolate(self.work, self.cores)
        inputs = self.work / "inputs"
        t0 = time.perf_counter()
        facts = generate(args.workload, args.seed, inputs, self.n_ops,
                         args.size, self.cores)
        self.gen_s = time.perf_counter() - t0

        sampler = probes.TreeSampler().start()
        t0 = time.perf_counter()
        from db2pq_spark import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        self.get_spark_s = time.perf_counter() - t0
        try:
            tracer = probes.Tracer(enabled=False, spark=spark)
            wl = cls(spark, self.work, inputs, facts, tracer, self.cores)
            wl.start()
            t0 = time.perf_counter()
            wl.setup()
            self.setup_s = time.perf_counter() - t0
            self.problems = []
            for k in range(self.n_ops):
                self._one_op(spark, wl, tracer, k)
            t0 = time.perf_counter()
            self.problems += wl.check_run(sorted(self.ops))
            self.check_s += time.perf_counter() - t0
            for op, msg in self.problems:
                print(f"check failed: {msg}", file=sys.stderr)
                self.failed |= set(range(self.n_ops)) if op is None else {op}
            sampler.stop()
            return self._metrics(spark, wl, tracer, sampler)
        finally:
            sampler.stop()
            _stop_spark(spark)

    def _one_op(self, spark, wl, tracer, k: int) -> None:
        import probes

        traced = (self.args.trace == 1 and k >= self.n_warm
                  and is_traced(k - self.n_warm))
        tracer.enabled = traced
        tracer.begin_op(k)
        if traced:
            procs0 = probes.process_tree(os.getpid())
            gc0 = probes.jvm_counters(spark)["gc_s"]
        try:
            with tracer.span("op"):
                t0 = time.perf_counter()
                result = wl.op(k)
                dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc()
            self.failed.add(k)
            return
        finally:
            tracer.end_op()
            tracer.enabled = False
        if traced:
            procs1 = probes.process_tree(os.getpid())
            self.op_cost[k] = {
                "process_cpu_s": probes.tree_cpu(procs1) - probes.tree_cpu(procs0),
                "workers_cpu_s": (probes.tree_cpu(probes.worker_tree(procs1))
                                  - probes.tree_cpu(probes.worker_tree(procs0))),
                "gc_s": probes.jvm_counters(spark)["gc_s"] - gc0,
            }
            spark.sparkContext.setJobGroup("side", "side")
            result["side"] = wl.side_measure(k)
            self.traced.append(k)
        t0 = time.perf_counter()
        problems = wl.check_op(k, result)
        self.check_s += time.perf_counter() - t0
        for msg in problems:
            print(f"check failed: {msg}", file=sys.stderr)
            self.failed.add(k)
        self.ops[k] = result
        self.durations[k] = dt

    def _metrics(self, spark, wl, tracer, sampler) -> dict:
        import probes
        from common import Layer, dir_bytes, parquet_layout

        timed = [k for k in range(self.n_warm, self.n_ops) if k in self.durations]
        plain = [k for k in timed if k not in self.traced]
        plain_d = [self.durations[k] for k in plain]
        if 0 not in self.durations or not plain_d:
            raise RuntimeError("the first op or every untraced timed op failed: "
                               "no latency to report")
        steal1, total1 = probes.cpu_times()
        # every run has two untraced timed ops at least, so both halves
        # exist unless an op failed, and a failed op fails the run
        half = len(plain_d) // 2
        trend = (statistics.median(plain_d[half:]) / statistics.median(plain_d[:half])
                 if half else 1.0)
        schema_dir = wl.schema_dir()
        live = [d for d in schema_dir.iterdir() if d.name.endswith(".parquet")]
        live_bytes = dir_bytes(schema_dir, skip=("archive",))
        jvm = probes.jvm_counters(spark)
        diagnostics = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace,
            "master": spark.sparkContext.master,
            "cores": self.cores,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "ops": {"warmup": self.n_warm, "timed": len(timed),
                    "traced": len(self.traced), "failed": len(self.failed)},
            "setup_s": self.setup_s, "get_spark_s": self.get_spark_s,
            "gen_s": self.gen_s,
            "check_s": self.check_s,
            "host_steal_frac": (steal1 - self.steal0) / max(1, total1 - self.total0),
            "loadavg_start": self.load0,
            "jit_compile_s": jvm["jit_s"],
            "persisted_rdds_end": probes.persisted_rdds(spark),
            "trend": trend,
            "op_s": [round(self.durations[k], 4) for k in sorted(self.durations)],
            "failures": [m for _, m in self.problems],
            "checks_run": sorted(wl.checks_run),
        }
        if self.args.trace == 0:
            e2e = {
                "setup_s": Layer(self.get_spark_s + self.setup_s, "s"),
                "first_op_s": Layer(self.durations[0], "s"),
                "op_s_p50": Layer(statistics.median(plain_d), "s"),
                "throughput": Layer(sum(self.ops[k]["units"] for k in plain)
                                    / sum(plain_d), "1/s"),
                "repo_bytes_per_source_byte": Layer(
                    live_bytes / wl.facts["source_arrow_bytes"], "ratio"),
            }
            return {"diagnostics": diagnostics,
                    "metrics": self._emit(e2e, "end_to_end")}

        traced_d = [self.durations[k] for k in self.traced]
        counters = [tracer.counters.get(k, {}) for k in self.traced]
        n = max(1, len(counters))

        def per_op(key):
            return sum(c.get(key, 0.0) for c in counters) / n

        layers = {
            "session.get_spark_s": Layer(self.get_spark_s, "s"),
            "failed_op_frac": Layer(len(self.failed) / self.n_ops, "ratio"),
            "spark.jobs_per_op": Layer(per_op("jobs"), "count"),
            "spark.stages_per_op": Layer(per_op("stages"), "count"),
            "spark.tasks_per_op": Layer(per_op("tasks"), "count"),
            "spark.executor_run_s_per_op": Layer(per_op("executor_run_s"), "s"),
            "spark.executor_cpu_s_per_op": Layer(per_op("executor_cpu_s"), "s"),
            "spark.task_gc_s_per_op": Layer(per_op("task_gc_s"), "s"),
            "spark.shuffle_write_bytes_per_op": Layer(per_op("shuffle_write_bytes"), "B"),
            "spark.shuffle_read_bytes_per_op": Layer(per_op("shuffle_read_bytes"), "B"),
            "spark.spill_bytes_per_op": Layer(per_op("spill_bytes"), "B"),
            "spark.input_bytes_per_op": Layer(per_op("input_bytes"), "B"),
            "spark.output_bytes_per_op": Layer(per_op("output_bytes"), "B"),
            "spark.peak_execution_memory_bytes": Layer(
                max((c.get("peak_execution_memory_bytes", 0.0) for c in counters),
                    default=0.0), "B"),
            "spark.persisted_rdds_end": Layer(diagnostics["persisted_rdds_end"], "count"),
            "jvm.gc_s_per_op": Layer.med([c["gc_s"] for c in self.op_cost.values()], "s"),
            "jvm.jit_compile_s": Layer(jvm["jit_s"], "s"),
            "jvm.heap_used_mb_end": Layer(jvm["heap_mb"], "MB"),
            "process.peak_rss_mb": Layer(sampler.peak_rss / 2**20, "MB"),
            "process.cpu_s_per_op": Layer.med(
                [c["process_cpu_s"] for c in self.op_cost.values()], "s"),
            "python_workers.cpu_s_per_op": Layer.med(
                [c["workers_cpu_s"] for c in self.op_cost.values()], "s"),
            "python_workers.max_count": Layer(sampler.max_workers, "count"),
            "host.steal_frac": Layer(diagnostics["host_steal_frac"], "ratio"),
            "host.loadavg_start": Layer(self.load0, "count"),
            "host.cpus": Layer(self.cores, "count"),
            "bench.gen_s": Layer(self.gen_s, "s"),
            "bench.trend": Layer(trend, "ratio"),
            "bench.tracing_overhead": Layer(
                statistics.median(traced_d) / statistics.median(plain_d), "ratio"),
        }
        for key, value in parquet_layout(live).items():
            layers[f"sinks.parquet_sink.{key}"] = Layer(
                value, "B" if key == "bytes_per_row" else "count")
        layers.update(wl.layers(self.traced, self.ops))
        self._write_spans(tracer)
        return {"diagnostics": diagnostics, "metrics": self._emit(layers, "per_layer")}

    def _emit(self, got: dict, kind: str) -> dict:
        """Exactly the metrics ``BENCHMARK.json`` lists under ``kind``;
        a layer this workload never calls reports 0."""
        listed = {m["name"]: m["unit"] for m in self.spec[kind]}
        unknown = set(got) - set(listed)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json {kind}: {sorted(unknown)}")
        out = {}
        for name, unit in listed.items():
            m = got.get(name)
            if m is not None and m.unit != unit:
                raise ValueError(f"{name}: unit {m.unit} != {unit} in BENCHMARK.json")
            out[name] = {"value": float(m.value) if m is not None else 0.0,
                         "unit": unit}
        return out

    def _write_spans(self, tracer) -> None:
        self.out_dir.mkdir(exist_ok=True)
        path = self.out_dir / f"{self.args.workload}-seed{self.args.seed}-spans.json"
        path.write_text(json.dumps({"traced_ops": self.traced,
                                    "counters": tracer.counters,
                                    "spans": tracer.dump()}))


def main(argv: list[str] | None = None) -> int:
    start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="input size preset (tiny: the self-test)")
    args = ap.parse_args(argv)
    if not (ROOT / "db2pq_spark" / "__init__.py").is_file():
        print(f"no db2pq_spark package beside {HERE.name}/: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    spec = _load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run = Run(args, spec)
    try:
        out = run.execute()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            run.work.parent.rmdir()
        except OSError:  # another run's work directory is still there
            pass
    out["diagnostics"]["wall_s"] = time.perf_counter() - start
    print(json.dumps({"diagnostics": out["diagnostics"]}))
    attempted = run.n_ops
    print(json.dumps({"correct": not run.failed and not run.problems,
                      "attempted": attempted, "failed": len(run.failed),
                      "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
