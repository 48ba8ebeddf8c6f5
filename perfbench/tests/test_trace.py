import pytest

from perfbench.run import blocks, tail
from perfbench.trace import SourceProbe, Span, Tracer


def test_self_time_subtracts_direct_children():
    t = Tracer(True)
    t.spans = [
        Span("op", 0.0, 10.0, None, 1),
        Span("etl.build", 1.0, 5.0, 0, 1),
        Span("sources.read", 2.0, 3.0, 1, 1),
        Span("etl.write", 6.0, 9.0, 0, 1),
        Span("op", 20.0, 21.0, None, 2),
    ]
    assert t.self_times({1}) == pytest.approx(
        {"op": 3.0, "etl.build": 3.0, "sources.read": 1.0, "etl.write": 3.0})
    assert t.self_times()["op"] == pytest.approx(4.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op"):
        pass
    assert t.spans == []


def test_nested_spans_link_parents():
    t = Tracer(True)
    t.op = 3
    with t.span("op"):
        with t.span("plans.construct"):
            pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [("op", None, 3), ("plans.construct", 0, 3)]


def test_source_probe_counts_plan_cache_hits(spark, catalog):
    import sys

    from graphdbetl_spark.plans.registry import all_queries
    from graphdbetl_spark.sources import catalog as cat

    all_queries()  # import every plan module, each binding load_table by name

    original = cat.load_table
    tracer = Tracer(True)
    with SourceProbe(tracer) as probe:
        cat.load_table(spark, catalog, "customer")
        cat.load_table(spark, catalog, "customer")
    assert (probe.calls, probe.hits) == (1, 1)
    assert [s.name for s in tracer.spans] == ["sources.read", "sources.read"]
    bound = [v for name, m in list(sys.modules.items()) if name.startswith("graphdbetl_spark")
             for v in vars(m).values() if getattr(v, "__name__", "") in ("load_table", "timed")]
    assert bound and all(v is original for v in bound)


def test_tail_is_largest_value_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]
    value, pct, beyond = tail(xs)
    assert (value, beyond) == (20.0, 10)
    assert pct == pytest.approx(100 * 20 / 30)
    assert tail([1.0, 3.0, 2.0]) == (3.0, 100.0, 0)


def test_blocks_are_seeded_permutations():
    kinds = ["a", "b", "c", "d"]
    first = [next(blocks(kinds, 9)) for _ in range(2)]
    gen = blocks(kinds, 9)
    run = [next(gen) for _ in range(3)]
    assert first[0] == run[0]
    assert all(sorted(b) == kinds for b in run)
