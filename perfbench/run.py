"""Seeded, closed-loop benchmark of graphdbetl_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload graph_build --seed 1 --seconds 5 --trace 0

One run: generate the workload's inputs from ``--seed`` (DuckDB), start
a ``local[4]`` session through ``session.get_spark`` and warm it up by
running every op kind once, or more for workloads that ask (set-up),
check the first warm-up pass's results against DuckDB, then run ops one
at a time in whole seeded blocks (each block holds every op kind once)
until ``--seconds`` have passed and at least two ops have run.

``--trace 0`` reports the end-to-end metrics, measured with no
instrumentation. ``--trace 1`` runs every op twice, plain and traced,
and reports per-layer metrics from the traced ops (status store, spans,
source-layer probe) plus the tracing overhead: the traced ops' wall over
the plain ones', minus 1.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (``{name: {"value", "unit"}}``). The line
before it carries every named metric and the run's details (seed, input
sizes, tail percentile, sample count). Spans and per-op records go to
``.perfbench_work/results/``. Everything the run writes stays under the
checkout's ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CPUS = 4
# A run measures whole blocks until ``--seconds`` have passed and at least
# this many ops have run, so no metric rests on a single op.
MIN_OPS = 2
if str(ROOT) not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, str(ROOT))

# Metrics of an untraced run, with units. The untraced run also reports,
# on its details line only, the op wall-time metrics (median, slowest op,
# ops and rows per second) and the peak RSS. On a shared 4-core host the
# walls of a run drift with the host's load by more than a bound may
# allow (IQR/median of op_p50_s up to 0.4 over ten runs), while the CPU
# time per op stays within about 0.15.
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}
# Per-layer metrics of a traced run: averages per traced op unless the
# name is a ratio or a set-up time.
LAYER_METRICS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.read_s": "s", "sources.calls": "count", "sources.plan_cache_hit_ratio": "ratio",
    "etl.build_s": "s", "etl.write_s": "s", "etl.export_s": "s", "etl.merge_ratio": "ratio",
    "etl.rows_written": "rows", "etl.bytes_written": "bytes", "etl.files_written": "count",
    "etl.stored_bytes_per_row": "bytes/row",
    "plans.construct_s": "s", "plans.action_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.skipped_stages": "count",
    "spark.tasks": "count", "spark.job_wall_s": "s", "spark.driver_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.cpu_ratio": "ratio", "exec.gc_s": "s",
    "exec.input_bytes": "bytes", "exec.output_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes", "spill.bytes": "bytes",
    "operators.python_eval_s": "s", "operators.python_init_s": "s", "operators.python_nodes": "count",
    "cache.persisted_rdds": "count", "cache.bytes": "bytes", "cache.leaked_rdds": "count",
    "trace.op_s": "s", "trace.overhead_ratio": "ratio", "trace.read_s": "s",
    "self.op_s": "s", "self.etl.build_s": "s", "self.plans.construct_s": "s",
}
# Span name -> layer metric holding its inclusive time per op.
SPAN_METRICS = {"sources.read": "sources.read_s", "etl.build": "etl.build_s",
                "etl.write": "etl.write_s", "etl.export": "etl.export_s",
                "plans.construct": "plans.construct_s", "plans.action": "plans.action_s",
                "trace.read": "trace.read_s"}


def _isolate_environment() -> None:
    """Keep every file the run (and Spark) writes inside the checkout,
    let Spark's Python workers import the package from any working
    directory, and drop engine tuning knobs so every run measures the
    defaults."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


def blocks(kinds: list[str], seed: int):
    """Endless seeded blocks, each a permutation of every op kind."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(kinds, len(kinds))


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the largest latency with at
    least ten samples above it. Below twenty samples that latency would
    lie under the median, so the maximum is reported, with 0 beyond."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait for it and the Python
    workers it forked to exit."""
    from pyspark import SparkContext

    from perfbench import procstat

    children = {pid: procstat.start_time(pid) for pid in procstat.tree()[1:]}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def alive() -> list[int]:
        return [pid for pid, t in children.items() if procstat.start_time(pid) == t]

    deadline = time.monotonic() + 30
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in alive():
        os.kill(pid, signal.SIGKILL)


class Run:
    def __init__(self, args):
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]()
        self.dir = WORK / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
        self.details: dict = {"workload": args.workload, "seed": args.seed, "cpus": CPUS}
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.latencies: list[tuple[str, float]] = []
        self.tracer = Tracer(False)

    # -- phases --------------------------------------------------------

    def setup(self):
        from graphdbetl_spark.session import get_spark

        inputs = self.wl.prepare(str(self.dir / "inputs"), self.args.seed)
        self.details["inputs"] = {"rows": inputs.rows, "bytes": inputs.bytes, **inputs.params}
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS)
        t1 = time.perf_counter()
        results, groups = {}, {}
        for kind in self.wl.kinds:
            groups[kind] = f"warmup-{kind}"
            spark.sparkContext.setJobGroup(groups[kind], groups[kind])
            self.attempted += 1
            try:
                results[kind] = self.wl.warmup(spark, kind)
            except Exception:
                traceback.print_exc()
                self.failures[kind] = "raised in warm-up"
        spark.sparkContext._jsc.clearJobGroup()
        # Further passes are plain ops; _one counts their failures.
        for _ in range(1, self.wl.warmup_passes):
            for kind in self.wl.kinds:
                self._one(spark, kind, self.tracer)
        t2 = time.perf_counter()
        self.setup_times = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}
        try:
            self.failures.update(self.wl.verify(results))
        except Exception:
            traceback.print_exc()
            self.failures["verify"] = "raised"
        self.failed += len(self.failures)
        self.rows_per_op = self._rows_per_op(spark, groups)
        mem = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().toSeq()
        max_storage = sum(int(mem.apply(i)._2()._1()) for i in range(mem.size()))
        self.details["inputs"]["storage_memory_bytes"] = max_storage
        self.details["inputs"]["share_of_storage_memory"] = inputs.bytes / max_storage if max_storage else None
        return spark

    def _rows_per_op(self, spark, groups: dict[str, str]) -> dict[str, float]:
        """Rows an op of each kind handles: for graph builds the node and
        edge rows written, otherwise the source rows Spark read in the
        warm-up pass."""
        if self.args.workload == "graph_build":
            return {k: float(self.wl.rows_written) for k in self.wl.kinds}
        from perfbench.statusstore import StatusReader

        reader = StatusReader(spark)
        return {kind: reader.stage_metrics(group)["exec.input_rows"] for kind, group in groups.items()}

    def _one(self, spark, kind: str, tracer, reader=None, probe=None):
        """Run one op; return (latency or None, per-op record)."""
        rec: dict[str, float] = {}
        self.attempted += 1
        mark = reader.begin(f"op-{self.attempted}-{kind}") if reader else None
        calls0, hits0 = (probe.calls, probe.hits) if probe else (0, 0)
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                rec.update(self.wl.op(spark, kind, tracer))
            latency = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.failed += 1
            latency = None
        if reader:
            reader.end()
            with tracer.span("trace.read"):
                rec.update(reader.read(mark))
            rec["sources.calls"] = probe.calls - calls0
            rec["sources.hits"] = probe.hits - hits0
        try:
            rec.update(self.wl.between(spark, reader is not None))
        except Exception:
            traceback.print_exc()
            self.failed += 1
        return latency, rec

    def measure(self, spark) -> dict:
        """Untraced ops in whole blocks until ``--seconds`` have passed and
        ``MIN_OPS`` ops have run. A run is mostly cold set-up, so to stay
        near a minute it measures no more unless ``--seconds`` asks."""
        from perfbench import procstat

        lat: list[float] = []
        order = blocks(self.wl.kinds, self.args.seed)
        n_blocks = 0
        attempted0 = self.attempted
        cpu0 = procstat.cpu_seconds(procstat.tree())
        t0 = time.perf_counter()
        while True:
            for kind in next(order):
                latency, _ = self._one(spark, kind, self.tracer)
                if latency is not None:
                    lat.append(latency)
                    self.latencies.append((kind, latency))
            n_blocks += 1
            if time.perf_counter() - t0 >= self.args.seconds and self.attempted - attempted0 >= MIN_OPS:
                break
        wall = time.perf_counter() - t0
        pids = procstat.tree()
        cpu = procstat.cpu_seconds(pids) - cpu0
        rows = sum(self.rows_per_op[k] for k in self.wl.kinds) * n_blocks
        # With every op failed there is no latency to report: the result
        # line still goes out, with null op metrics and correct false.
        tail_v, tail_p, beyond = tail(lat) if lat else (None, None, 0)
        rss = procstat.peak_rss_by_process(pids)
        self.unbounded = {"op_p50_s": (statistics.median(lat) if lat else None, "s"),
                          "op_tail_s": (tail_v, "s"), "ops_per_s": (len(lat) / wall, "1/s"),
                          "rows_per_s": (rows / wall, "rows/s"), "peak_rss_mb": (sum(rss.values()), "MB")}
        self.details.update(ops=len(lat), blocks=n_blocks, measured_s=wall, op_tail_percentile=tail_p,
                            op_tail_samples_beyond=beyond, rows_per_block=rows / n_blocks,
                            peak_rss_mb_by_process=rss)
        values = {"setup_s": sum(self.setup_times.values()), "cpu_s_per_op": cpu / max(1, len(lat))}
        return {k: (v, END_TO_END[k]) for k, v in values.items()}

    def measure_traced(self, spark) -> dict:
        """Each op of a block runs twice, plain and traced, alternating
        which goes first, until ``--seconds`` have passed. Layer metrics
        come from the traced ops."""
        from perfbench.statusstore import StatusReader
        from perfbench.trace import SourceProbe, Tracer

        tracer = Tracer(True)
        self.tracer = tracer
        reader = StatusReader(spark)
        paired, records = [], []
        order = blocks(self.wl.kinds, self.args.seed)
        t0 = time.perf_counter()
        while True:
            for kind in next(order):
                plain = traced = None
                k = len(records)
                for trace_it in (k % 2 == 1, k % 2 == 0):
                    if not trace_it:
                        plain, _ = self._one(spark, kind, Tracer(False))
                        continue
                    tracer.op = len(records)
                    with SourceProbe(tracer) as probe:
                        traced, rec = self._one(spark, kind, tracer, reader, probe)
                    tracer.op = None
                    rec["trace.op_s"] = traced or 0.0
                    records.append(rec)
                if plain is not None and traced is not None:
                    paired.append((plain, traced))
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        op_ids = set(range(len(records)))
        n = max(1, len(records))
        mean = lambda key: sum(r.get(key, 0.0) for r in records) / n  # noqa: E731
        total = lambda key: sum(r.get(key, 0.0) for r in records)  # noqa: E731
        out = {name: 0.0 for name in LAYER_METRICS}
        out.update(self.setup_times)
        for key in LAYER_METRICS:
            if key.startswith(("spark.", "exec.", "shuffle.", "spill.", "operators.", "cache.",
                               "catalyst.", "etl.", "trace.")) or key == "sources.calls":
                out[key] = mean(key)
        for span, key in SPAN_METRICS.items():
            out[key] = sum(s.end - s.start for s in tracer.spans
                           if s.name == span and s.op in op_ids) / n
        for span, secs in tracer.self_times(op_ids).items():
            if f"self.{span}_s" in out:
                out[f"self.{span}_s"] = secs / n
        lookups = total("sources.calls") + total("sources.hits")
        out["sources.plan_cache_hit_ratio"] = total("sources.hits") / lookups if lookups else 0.0
        out["exec.cpu_ratio"] = total("exec.cpu_s") / total("exec.run_s") if total("exec.run_s") else 0.0
        out["spark.driver_gap_s"] = mean("trace.op_s") - mean("spark.job_wall_s")
        out["trace.overhead_ratio"] = (
            sum(t for _, t in paired) / sum(p for p, _ in paired) - 1 if paired else 0.0
        )
        self.details.update(traced_ops=len(records), paired_ops=len(paired))
        self.records = records
        return {k: (v, LAYER_METRICS[k]) for k, v in out.items()}

    def write_results(self, metrics: dict) -> None:
        results = WORK / "results"
        results.mkdir(parents=True, exist_ok=True)
        stem = results / f"{self.args.workload}-s{self.args.seed}-t{self.args.trace}"
        self.tracer.dump(f"{stem}.spans.json")
        with open(f"{stem}.json", "w") as fh:
            json.dump({"details": self.details, "failures": self.failures, "metrics": metrics,
                       "latencies": self.latencies, "records": getattr(self, "records", [])}, fh, indent=1)


def main(argv: list[str] | None = None) -> int:
    # Fails here, before anything is generated, when the package is absent.
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Anything Spark, its JVM or its Python workers print would land on
    # stdout; send it to stderr and keep stdout for the result lines.
    stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    _isolate_environment()
    run = Run(args)
    shutil.rmtree(run.dir, ignore_errors=True)
    spark = None
    try:
        spark = run.setup()
        metrics = run.measure_traced(spark) if args.trace else run.measure(spark)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run.dir, ignore_errors=True)
    run.write_results({k: v for k, (v, _) in metrics.items()})
    for line in report(run, metrics):
        print(json.dumps(line), file=stdout, flush=True)
    return 0


def report(run: Run, metrics: dict) -> tuple[dict, dict]:
    """The two result lines: every named metric with the run's details,
    then the result object with the metrics ``BENCHMARK.json`` lists."""
    attempted, failed = run.attempted, run.failed
    named = dict(metrics)
    if not run.args.trace:
        named.update(run.unbounded)
        named["error_rate"] = (failed / attempted, "ratio")
        if run.args.workload == "graph_build":
            named["stored_bytes_per_row"] = (run.wl.stored_bytes_per_row, "bytes/row")
    detail = dict(run.details, failures=run.failures,
                  metrics={k: {"value": v, "unit": u} for k, (v, u) in named.items()})
    return detail, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
