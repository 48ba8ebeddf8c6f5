import argparse
import json

from perfbench import run as bench


class FailingWorkload:
    kinds = ["a", "b"]

    def op(self, spark, kind, tracer):
        raise RuntimeError("op failed")

    def between(self, spark, traced):
        return {}


def test_run_where_every_op_fails_still_reports():
    args = argparse.Namespace(workload="curation_batch", seed=1, seconds=0.0, trace=0)
    r = bench.Run(args)
    r.wl = FailingWorkload()
    r.setup_times = {"session.start_s": 1.0, "session.warmup_s": 2.0}
    r.rows_per_op = {"a": 1.0, "b": 1.0}
    detail, result = bench.report(r, r.measure(None))
    json.dumps([detail, result])
    assert result["correct"] is False
    assert result["attempted"] == result["failed"] == 2  # one block of two kinds
    assert detail["metrics"]["op_p50_s"]["value"] is None
    assert detail["metrics"]["op_tail_s"]["value"] is None
    assert result["metrics"]["setup_s"]["value"] == 3.0
    assert detail["metrics"]["error_rate"]["value"] == 1.0
