"""Span bookkeeping, self time, and job attribution of the tracer."""

import os
import sys
import types

import pytest

from perfbench.trace import (JobRecord, Span, StatusRollup, Tracer,
                             attribute_untagged, self_times, union_length,
                             unit_metrics)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_is_duration_minus_children():
    spans = [
        Span(1, "unit", None, 0, 0.0, 10.0),
        Span(2, "engine.run", 1, 0, 1.0, 9.0, depth=1),
        Span(3, "operators.run_assertions", 2, 0, 2.0, 5.0, depth=2),
        # overlapping siblings are counted once in their parent
        Span(4, "sources.inputs.load_input", 2, 0, 4.0, 6.0, depth=2),
        Span(5, "reports.write_report", 2, 0, 8.5, 9.5, depth=2),  # runs past parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 8)
    assert st[2] == pytest.approx(8 - (4 + 0.5))
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(2)


def test_unit_self_times_sum_to_wall():
    spans = [
        Span(1, "unit", None, 0, 0.0, 4.0),
        Span(2, "engine.run", 1, 0, 0.5, 3.5, depth=1),
        Span(3, "operators.create_diff", 2, 0, 1.0, 2.0, depth=2),
        Span(4, "sources.outputs.store_output", 2, 0, 2.0, 3.0, depth=2),
    ]
    m = unit_metrics(spans, [], epoch_ms=0.0, cores=4)
    layers = ["trace.gap_s", "engine.self_s", "operators.diff.call_s",
              "sources.outputs.store_s"]
    assert sum(m[k] for k in layers) == pytest.approx(m["trace.wall_s"]) == 4.0
    assert m["driver.no_job_s"] == 4.0


def test_nested_spans_share_the_unit_and_name_their_parent():
    t = Tracer()
    t.enabled, t.unit_id = True, 7
    with t.span("unit") as root:
        with t.span("engine.run") as eng:
            with t.span("operators.create_view") as view:
                pass
    assert [s.unit for s in t.spans] == [7, 7, 7]
    assert (root.parent, eng.parent, view.parent) == (None, root.id, eng.id)
    assert (root.depth, eng.depth, view.depth) == (0, 1, 2)
    assert root.start <= eng.start <= view.start <= view.end <= eng.end <= root.end


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("unit") as s:
        assert s is None
    assert t.spans == []


def test_wrap_records_span_and_counts_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = Tracer()
    t.wrap(mod, "f", "materialize.release_new_intermediates",
           after=lambda s, res, a, k: t.count(s, "materialize.persisted", res))
    assert mod.f(1) == 2 and t.spans == []  # disabled: pass-through
    t.enabled = True
    assert mod.f(2) == 3
    assert t.spans[0].name == "materialize.release_new_intermediates"
    assert t.spans[0].counts == {"materialize.persisted": 3}
    orig = t._patches[0][2]
    t.uninstall()
    assert mod.f is orig


def test_jobs_charged_to_jobs_span_metrics():
    spans = [
        Span(1, "unit", None, 0, 0.0, 2.0),
        Span(2, "operators.run_assertions", 1, 0, 0.0, 1.0, depth=1),
        Span(3, "sources.outputs.store_output", 1, 0, 1.0, 2.0, depth=1),
    ]
    jobs = [JobRecord(1, 100.0, 600.0, 2, 2, {"tasks": 4, "executor_run_s": 1.0}),
            JobRecord(2, 1200.0, 1500.0, 3, 1, {"tasks": 1, "executor_run_s": 0.5}),
            JobRecord(3, 1400.0, 1800.0, None, 1, {"tasks": 1, "executor_run_s": 0.1})]
    m = unit_metrics(spans, jobs, epoch_ms=0.0, cores=2)
    assert m["operators.assertions.jobs"] == 1
    assert m["sources.outputs.jobs"] == 1
    assert m["spark.jobs"] == 3 and m["spark.stages"] == 4 and m["spark.tasks"] == 6
    assert m["driver.no_job_s"] == pytest.approx(2.0 - 0.5 - 0.6)
    assert m["spark.busy_frac"] == pytest.approx(1.6 / 4)


def test_untagged_job_goes_to_deepest_open_span():
    spans = [Span(1, "unit", None, 0, 0.0, 10.0),
             Span(2, "streaming.window.drain", 1, 0, 1.0, 4.0, depth=1),
             Span(3, "streaming.assert.drain", 1, 0, 4.0, 9.0, depth=1)]
    jobs = [JobRecord(1, 2000.0, 2500.0, None), JobRecord(2, 5000.0, 5100.0, None),
            JobRecord(3, 9500.0, 9600.0, None), JobRecord(4, 3000.0, 3100.0, 3)]
    attribute_untagged(jobs, spans, epoch_ms=0.0)
    assert [j.span for j in jobs] == [2, 3, 1, 3]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    session = (SparkSession.builder.master("local[1]").appName("trace-test")
               .config("spark.ui.enabled", "false")
               .config("spark.driver.memory", "1g")
               .config("spark.local.dir", str(tmp))
               .getOrCreate())
    yield session
    session.stop()


def test_rollup_charges_each_job_to_the_span_that_forced_it(spark):
    from pyspark.sql import functions as F

    t = Tracer(spark)
    rollup = StatusRollup(spark)
    spark.range(3).count()  # before tracing: skipped over
    rollup.new_jobs({})
    t.enabled = True
    with t.span("unit"):
        with t.span("operators.run_assertions") as a:
            spark.range(10).count()
        with t.span("sources.outputs.store_output") as b:
            spark.range(5).groupBy((F.col("id") % 2).alias("k")).count().collect()
            with t.span("reports.write_report") as c:
                spark.range(7).count()
        spark.range(4).count()
    unit = t.spans
    jobs = rollup.new_jobs({s.id: s.depth for s in unit})
    by_span = {}
    for j in jobs:
        by_span.setdefault(j.span, []).append(j)
    assert len(by_span[a.id]) == 1
    assert len(by_span[b.id]) >= 1
    assert len(by_span[c.id]) == 1
    assert len(by_span[unit[0].id]) == 1
    assert sum(len(v) for v in by_span.values()) == len(jobs)
    assert all(j.stages >= 1 and j.metrics["tasks"] >= 1 for j in jobs)
    assert len(spark.sparkContext.getJobTags()) == 0
    assert rollup.new_jobs({}) == []
