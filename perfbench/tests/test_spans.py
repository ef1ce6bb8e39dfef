"""Span arithmetic: self times, innermost attribution, wrapping."""

import types

import pytest

import attribution
import eventlog
import spans as sp


def _tree():
    # root [0, 10]
    #   a [1, 4]
    #     a1 [2, 3]
    #   b [5, 9]
    #     b1 [5, 6], b2 [5.5, 7] (overlapping siblings), b3 [8.5, 9.5]
    #     (b3 sticks out of its parent and is clipped to it)
    s = [
        sp.Span("root", 0, 10, None, [1, 3]),
        sp.Span("a", 1, 4, 0, [2]),
        sp.Span("a1", 2, 3, 1, []),
        sp.Span("b", 5, 9, 0, [4, 5, 6]),
        sp.Span("b1", 5, 6, 3, []),
        sp.Span("b2", 5.5, 7, 3, []),
        sp.Span("b3", 8.5, 9.5, 3, []),
    ]
    return s


def test_self_times_nested():
    selfs = sp.self_times(_tree())
    assert selfs == pytest.approx([3, 2, 1, 1.5, 1, 1.5, 1])
    # the root's self time plus its descendants' equals the root wall,
    # less what overlapping siblings double-count
    assert sum(selfs) - 0.5 - 0.5 == pytest.approx(10)


def test_self_times_sum_to_wall_for_well_nested_spans():
    s = _tree()[:5]
    s[3].children = [4]
    assert sum(sp.self_times(s)) == pytest.approx(10)


def test_innermost_and_outermost():
    s = _tree()
    assert sp.innermost(s, 2.5) == 2
    assert sp.innermost(s, 4.5) == 0
    assert sp.innermost(s, 11) is None
    nested = [
        sp.Span("f", 0, 4, None, [1]),
        sp.Span("f", 1, 2, 0, [2]),
        sp.Span("g", 1, 2, 1, []),
    ]
    assert sp.outermost_of_name(nested) == [0, 2]


def test_tracer_wrap_records_and_restores():
    mod = types.ModuleType("perfbench_fake_mod")
    mod.work = lambda x: x + 1
    import sys

    sys.modules[mod.__name__] = mod
    try:
        t = sp.Tracer()
        orig = mod.work
        t.wrap(mod.__name__, "work", "layer.work")
        with t.span("root"):
            assert mod.work(1) == 2
            with pytest.raises(TypeError):
                mod.work(None)
        t.unwrap_all()
        assert mod.work is orig
        assert [s.name for s in t.spans] == ["root", "layer.work", "layer.work"]
        assert [s.parent for s in t.spans] == [None, 0, 0]
        assert all(s.end >= s.start for s in t.spans)
    finally:
        del sys.modules[mod.__name__]


def test_layer_metrics_attributes_jobs_to_innermost_span():
    s = [
        sp.Span("pass", 100, 110, None, [1, 3]),
        sp.Span("plans.pipeline.run_monthly_pipeline", 101, 109, 0, [2]),
        sp.Span("sources.layers.write_month_idempotent", 102, 104, 1, []),
        sp.Span("catalog.a1_monthly_fact", 109.5, 110, 0, []),
    ]
    log = eventlog.EventLog(
        jobs={1: 99.0, 2: 102.5, 3: 103.0, 4: 105.0, 5: 109.7},
        stages={
            7: eventlog.Stage(7, 102.5, [
                eventlog.Task(102.5, 102.6), eventlog.Task(102.5, 102.9),
            ]),
        },
    )
    m = attribution.layer_metrics(s, log, 0, cores=2)
    assert m["spark.jobs"] == 4  # job 1 precedes the pass
    assert m["sources.layers.write_month_idempotent.jobs"] == 2
    assert m["plans.pipeline.run_monthly_pipeline.self_jobs"] == 1
    assert m["plans.pipeline.run_monthly_pipeline.self_s"] == pytest.approx(6)
    assert m["catalog.a1_monthly_fact.s"] == pytest.approx(0.5)
    assert m["trace.self_sum_s"] == pytest.approx(m["trace.pass_s"]) == pytest.approx(10)
    assert m["spark.task_skew"] == pytest.approx(0.4 / 0.25)
    assert m["spark.executor_busy_share"] == pytest.approx(0.5 / 20)


def test_layer_metrics_names_match_units_and_sum_python_metrics():
    s = [
        sp.Span("pass", 0, 10, None, [1]),
        sp.Span("plans.ingest.run_incremental_ingest", 1, 9, 0, [2, 3]),
        sp.Span("plans.ingest.ingest_increment", 2, 5, 1, []),
        sp.Span("sources.layers.commit_tables", 6, 8, 1, []),
    ]
    log = eventlog.EventLog(
        jobs={1: 3.0, 2: 5.5, 3: 7.0},
        stages={0: eventlog.Stage(0, 3.0, [
            eventlog.Task(3, 4, python_run_ms=1500, python_boot_ms=200,
                          python_sent=2_000_000, python_rows=7),
            eventlog.Task(3, 3.5, python_run_ms=500, python_rows=3),
        ])},
    )
    m = attribution.layer_metrics(s, log, 0, cores=4)
    assert set(m) - {"trace.self_sum_s", "trace.pass_s"} == set(attribution.units([]))
    assert m["plans.ingest.run_incremental_ingest.self_s"] == pytest.approx(3)
    assert m["plans.ingest.run_incremental_ingest.self_jobs"] == 1
    assert m["plans.ingest.ingest_increment.jobs"] == 1
    assert m["sources.layers.commit_tables.jobs"] == 1
    assert m["python_udf.run_s"] == pytest.approx(2.0)
    assert m["python_udf.boot_s"] == pytest.approx(0.2)
    assert m["python_udf.mb_sent"] == pytest.approx(2.0)
    assert m["python_udf.rows_received"] == 10
