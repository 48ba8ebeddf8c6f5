"""Dump .explain("formatted") for registry queries to plans/<OUT_SUBDIR>/.

plans/<OUT_SUBDIR>/<query>_<tag>.txt holds the formatted physical plan
of each query, so plan-shape claims can be checked without running
Spark. For the ITERATIVE operators (kcenter / mmr / logreg) the final
frame is a driver-built trajectory (Scan ExistingRDD) that shows
nothing about the per-round job, so for those entries the tool also
hooks ``coreset.PLAN_PROBE`` and writes the FIRST round's pre-collect
plan to plans/<OUT_SUBDIR>/<query>_round_<tag>.txt.

Queries read the parquet tables under $SPARK_GRAFT_SF_DIR (the bench's
data directory); with no NAME the bench headline set is dumped, and
the name ALL dumps every registry entry (so a plan-identity claim can
cover the whole registry).

``diff OUT_SUBDIR`` compares the two tags' files pair by pair after
normalizing the session-global counters (expression ids ``#12L``,
``plan_id=7``, ``RDD[42]``, lambda variables ``x_540``) and the
per-process scratch directory names (``graft_<prefix>_<random>``) and
prints the entries whose plans differ, so a plan-identity claim is one
command.

Usage: SPARK_GRAFT_SF_DIR=DIR python tools/dump_plans.py OUT_SUBDIR TAG [NAME...|ALL]
       (TAG = before|after)
       python tools/dump_plans.py diff OUT_SUBDIR
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from graphdbetl_spark.operators import coreset
from graphdbetl_spark.plans.registry import all_queries
from graphdbetl_spark.session import get_spark

# entries whose per-round job plan is the real evidence
ITERATIVE = {
    "select_kcenter_coreset",
    "select_mmr_diverse",
    "train_quality_classifier",
}


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


PLANS = Path(__file__).resolve().parent.parent / "plans"
COUNTERS = [
    (re.compile(r"#[0-9]+L?"), "#N"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=N"),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD[N]"),
    # pyspark names each lambda variable from one process-wide counter
    (re.compile(r"(lambda [A-Za-z]+)_[0-9]+"), r"\1_N"),
    # write-then-read-back entries stage under a per-process temp dir
    (re.compile(r"graft_[a-z0-9_]+"), "graft_X"),
]


def normalized(path: Path) -> str:
    text = path.read_text()
    for pattern, repl in COUNTERS:
        text = pattern.sub(repl, text)
    return text


def diff(sub: str) -> None:
    """Print every before/after pair under plans/<sub> whose normalized
    plans differ, then a one-line count (unpaired files are listed too)."""
    out_dir = PLANS / sub
    before = {p.name[: -len("_before.txt")] for p in out_dir.glob("*_before.txt")}
    after = {p.name[: -len("_after.txt")] for p in out_dir.glob("*_after.txt")}
    differ = [
        stem for stem in sorted(before & after)
        if normalized(out_dir / f"{stem}_before.txt")
        != normalized(out_dir / f"{stem}_after.txt")
    ]
    for stem in differ:
        print(f"differs: {stem}")
    for stem in sorted(before ^ after):
        print(f"unpaired: {stem}")
    print(f"# {len(before & after) - len(differ)} identical, {len(differ)} differ, "
          f"{len(before ^ after)} unpaired")


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "diff":
        return diff(sys.argv[2])
    if len(sys.argv) < 3 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        raise SystemExit(__doc__)
    sub, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = PLANS / sub
    out_dir.mkdir(parents=True, exist_ok=True)
    if not names:
        import bench

        names = list(bench.HEADLINE)
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark("dump-plans")
    qs = all_queries()
    if names == ["ALL"]:
        names = sorted(qs)
    for name in names:
        captured: dict[str, str] = {}

        def probe(label: str, df, captured=captured) -> None:
            captured.setdefault(label, _fmt(df))  # first round only

        try:
            if name in ITERATIVE:
                coreset.PLAN_PROBE = probe
            df = qs[name](spark, sf_dir)
            plan = _fmt(df)
            if name in ITERATIVE:
                # the query fn drives the rounds at build time, so the
                # probe has fired; the action covers any lazy tail
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - record, keep dumping
            plan = f"EXPLAIN FAILED: {exc}"
        finally:
            coreset.PLAN_PROBE = None
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        for label, rplan in captured.items():
            (out_dir / f"{name}_round_{tag}.txt").write_text(
                f"# per-round job plan ({label}, first round)\n{rplan}"
            )
        print(f"# {name}: {len(plan)} chars", file=sys.stderr, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
