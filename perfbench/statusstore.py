"""Per-op readings from Spark's own status stores.

Everything here goes through the live ``AppStatusStore`` and the SQL
status store, which Spark keeps even with ``spark.ui.enabled=false``:

- jobs of an op, found by the job group the op ran under
  (``statusTracker().getJobIdsForGroup``);
- per-stage executor run/CPU/GC time, input/output, shuffle and spill
  bytes, through the 5-argument ``stageList(statuses, details,
  withSummaries, unsortedQuantiles, taskStatus)`` (the 1-argument form
  does not exist on Spark 4.1);
- RDDs marked cached in the op's stage graphs
  (``operationGraphForStage``) and their block sizes;
- Python-boundary SQL metrics of ``MapInPandas``/``MapInArrow``/
  ``ArrowEvalPython``-style plan nodes of every SQL execution the op
  started;
- Catalyst phase times from ``queryExecution().tracker()``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

PYTHON_NODE = re.compile(r"(InPandas|InArrow|EvalPython|InBatch)")
_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_duration_s(text: str) -> float:
    """Seconds in a Spark SQL timing metric string. Multi-task metrics
    read ``"total (min, med, max ...)\\n1.2 s (…)"``; the total is the
    first duration on the last line."""
    m = _DURATION.search(text.strip().splitlines()[-1])
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def catalyst_phases_ms(df: DataFrame) -> dict[str, int]:
    """Force the physical plan of ``df`` and return its tracker's phase
    times. Before ``executedPlan()`` only ``analysis`` is recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            p = phases.apply(name)
            out[name] = int(p.endTimeMs() - p.startTimeMs())
    return out


@dataclass
class OpMark:
    """State taken when an op starts, to scope what it did."""

    group: str
    last_execution: int
    persisted_before: set[int]


class StatusReader:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._gw = self.sc._gateway
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- scoping -------------------------------------------------------

    def begin(self, group: str) -> OpMark:
        self.sc.setJobGroup(group, group)
        return OpMark(group, self._last_execution_id(), self.persisted_ids())

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()

    def _last_execution_id(self) -> int:
        ex = self._sql.executionsList()
        n = ex.size()
        return int(ex.apply(n - 1).executionId()) if n else -1

    # -- cache ---------------------------------------------------------

    def persisted_ids(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keys()}

    def cached_bytes(self, rdd_ids: set[int]) -> int:
        return sum(
            int(info.memSize()) + int(info.diskSize())
            for info in self.sc._jsc.sc().getRDDStorageInfo()
            if int(info.id()) in rdd_ids
        )

    # -- readings ------------------------------------------------------

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, group: str) -> set[int]:
        ids: set[int] = set()
        for j in self.job_ids(group):
            s = self._store.job(j).stageIds()
            ids.update(int(s.apply(k)) for k in range(s.size()))
        return ids

    def stage_metrics(self, group: str) -> dict[str, float]:
        """Executor, I/O and shuffle totals over every stage of ``group``."""
        return self._stage_metrics(self.stage_ids(group))

    def read(self, mark: OpMark) -> dict[str, float]:
        """Layer metrics of every job and SQL execution since ``mark``."""
        jobs = self.job_ids(mark.group)
        stage_ids: set[int] = set()
        intervals = []
        for j in jobs:
            jd = self._store.job(j)
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        out = {"spark.jobs": float(len(jobs)), "spark.job_wall_s": _union_ms(intervals) / 1e3}
        out.update(self._stage_metrics(stage_ids))
        out.update(self._cache_metrics(stage_ids, mark))
        out.update(self._python_metrics(mark.last_execution))
        return out

    def _stage_metrics(self, stage_ids: set[int]) -> dict[str, float]:
        keys = ("stages", "skipped_stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "in_b",
                "in_rows", "out_b", "shr_b", "shw_b", "spill_b")
        acc = dict.fromkeys(keys, 0)
        if stage_ids:
            al = self._gw.jvm.java.util.ArrayList
            stages = self._store.stageList(al(), False, False, self._gw.new_array(self._gw.jvm.double, 0), al())
            lowest = min(stage_ids)
            # Stages are listed newest (highest id) first.
            for i in range(stages.size()):
                sd = stages.apply(i)
                sid = int(sd.stageId())
                if sid < lowest:
                    break
                if sid not in stage_ids:
                    continue
                if sd.status().toString() == "SKIPPED":
                    acc["skipped_stages"] += 1
                    continue
                acc["stages"] += 1
                acc["tasks"] += sd.numTasks()
                acc["run_ms"] += sd.executorRunTime()
                acc["cpu_ns"] += sd.executorCpuTime()
                acc["gc_ms"] += sd.jvmGcTime()
                acc["in_b"] += sd.inputBytes()
                acc["in_rows"] += sd.inputRecords()
                acc["out_b"] += sd.outputBytes()
                acc["shr_b"] += sd.shuffleReadBytes()
                acc["shw_b"] += sd.shuffleWriteBytes()
                acc["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return {
            "spark.stages": float(acc["stages"]),
            "spark.skipped_stages": float(acc["skipped_stages"]),
            "spark.tasks": float(acc["tasks"]),
            "exec.run_s": acc["run_ms"] / 1e3,
            "exec.cpu_s": acc["cpu_ns"] / 1e9,
            "exec.gc_s": acc["gc_ms"] / 1e3,
            "exec.input_bytes": float(acc["in_b"]),
            "exec.input_rows": float(acc["in_rows"]),
            "exec.output_bytes": float(acc["out_b"]),
            "shuffle.read_bytes": float(acc["shr_b"]),
            "shuffle.write_bytes": float(acc["shw_b"]),
            "spill.bytes": float(acc["spill_b"]),
        }

    def _cache_metrics(self, stage_ids: set[int], mark: OpMark) -> dict[str, float]:
        cached: set[int] = set()
        for sid in stage_ids:
            nodes = self._store.operationGraphForStage(sid).rootCluster().getCachedNodes()
            cached.update(int(nodes.apply(k).id()) for k in range(nodes.size()))
        alive = self.persisted_ids()
        new_alive = alive - mark.persisted_before
        return {
            "cache.persisted_rdds": float(len((cached - mark.persisted_before) | new_alive)),
            "cache.bytes": float(self.cached_bytes(new_alive)),
            "cache.leaked_rdds": float(len(new_alive)),
        }

    def _python_metrics(self, after_execution: int) -> dict[str, float]:
        nodes = eval_s = init_s = 0.0
        ex = self._sql.executionsList()
        for i in range(ex.size() - 1, -1, -1):
            eid = int(ex.apply(i).executionId())
            if eid <= after_execution:
                break
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid).allNodes()
            for k in range(graph.size()):
                node = graph.apply(k)
                if not PYTHON_NODE.search(node.name()):
                    continue
                nodes += 1
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    value = values.get(metric.accumulatorId())
                    if not value.isDefined():
                        continue
                    name = metric.name()
                    if name == "time to run Python workers":
                        eval_s += parse_duration_s(value.get())
                    elif name in ("time to start Python workers", "time to initialize Python workers"):
                        init_s += parse_duration_s(value.get())
        return {
            "operators.python_nodes": nodes,
            "operators.python_eval_s": eval_s,
            "operators.python_init_s": init_s,
        }


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
