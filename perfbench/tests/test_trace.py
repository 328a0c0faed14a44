"""Percentile, self-time and ratio arithmetic on fixed inputs."""

from __future__ import annotations

import math
import statistics

import pytest

from perfbench import stats, trace


def test_percentile_interpolates_between_ranks():
    xs = list(range(1, 11))
    assert stats.percentile(xs, 50) == 5.5
    assert stats.percentile(xs, 90) == pytest.approx(9.1)
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile(list(reversed(xs)), 0) == 1


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.0, 11.5, 10.2, 9.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([0.0, 0.0, 0.0]) == 0.0
    assert math.isinf(stats.quartile_spread([-1.0, 0.0, 0.0, 1.0]))


def test_ratio_of_nothing_is_zero():
    assert stats.ratio(3, 4) == 0.75
    assert stats.ratio(3, 0) == 0.0


def _span(name, start, end, parent, op, n=0, error=False):
    return [name, start * 10**6, end * 10**6, parent, op, n, error]


def test_self_time_subtracts_direct_children():
    spans = [
        _span("bench:op", 0, 100, -1, 0),
        _span("catalog.catalog:GlueCatalog.sql", 10, 40, 0, 0),
        _span("catalog.fake_glue:GetTable", 15, 25, 1, 0),
        _span("engine:action", 50, 60, 0, 0),
    ]
    assert trace.self_times_ms(spans) == [60.0, 20.0, 10.0, 10.0]


def _two_ops():
    """Op 0: a cold SQL op (two analyses, one registration with three
    partitions); op 1: a warm SQL op.  One set-up span precedes them."""
    sql, reg, ana = trace.SQL, trace.REGISTER, trace.ANALYZE
    return [
        _span(reg, 0, 4, -1, -1),                            # 0 set-up
        _span("bench:op", 10, 110, -1, 0),                   # 1
        _span(sql, 10, 90, 1, 0),                            # 2
        _span(ana, 11, 15, 2, 0, error=True),                # 3
        _span(reg, 16, 60, 2, 0, n=3),                       # 4
        _span("catalog.fake_glue:GetTable", 16, 26, 4, 0),   # 5
        _span("catalog.fake_glue:GetPartitions", 27, 37, 4, 0),
        _span("types:map_glue_columns_to_spark_schema", 38, 40, 4, 0, n=5),
        _span(trace.LOAD, 41, 50, 4, 0),                     # 8
        _span(ana, 61, 70, 2, 0),                            # 9
        _span(trace.ACTION, 90, 110, 1, 0),                  # 10
        _span("bench:op", 200, 250, -1, 1),                  # 11
        _span(sql, 200, 210, 11, 1),                         # 12
        _span(ana, 201, 209, 12, 1),                         # 13
        _span(trace.ACTION, 210, 250, 11, 1),                # 14
    ]


def test_layer_metrics_counts_and_ratios():
    ops = [{"refs": 1, "jobs": 2, "tasks": 3, "files": 4, "scan_rows": 40,
            "rows": 10},
           {"refs": 1, "jobs": 1, "tasks": 1, "files": 1, "scan_rows": 10,
            "rows": 10}]
    m = trace.layer_metrics(_two_ops(), ops)
    assert m["glue.calls_per_op"] == 1.0
    assert m["glue.get_table_per_op"] == 0.5
    assert m["glue.get_partitions_pages_per_op"] == 0.5
    assert m["glue.wait_ms_per_op"] == pytest.approx(10.0)
    assert m["types.columns_parsed_per_op"] == 2.5
    assert m["catalog.partitions_registered_per_op"] == 1.5
    # registrations over set-up and ops: 4 ms plain, 44 ms partitioned
    assert m["catalog.register_table.plain_ms_p50"] == pytest.approx(4.0)
    assert m["catalog.register_table.partitioned_ms_p50"] == pytest.approx(44.0)
    # two table references, one lazy registration
    assert m["catalog.registry_hit_ratio"] == 0.5
    # three analyses for two GlueCatalog.sql calls
    assert m["catalog.analyze_attempts_per_op"] == 1.5
    assert m["engine.analyze_ms_per_op"] == pytest.approx((4 + 9 + 8) / 2)
    assert m["engine.execute_ms_per_op"] == pytest.approx((20 + 40) / 2)
    assert m["engine.jobs_per_op"] == 1.5
    assert m["engine.tasks_per_op"] == 2.0
    assert m["engine.files_read_per_op"] == 2.5
    assert m["engine.scan_rows_per_result_row"] == 2.5
    assert m["sources.reader_fallbacks_per_op"] == 0.0
    # self time: the cold op's sql span is 80 ms minus 4 + 44 + 9
    assert m["self_ms_per_op.catalog.catalog"] == pytest.approx(
        ((80 - 57) + (44 - 10 - 10 - 2 - 9) + (10 - 8)) / 2)
    assert m["self_ms_per_op.bench"] == pytest.approx((0 + 0) / 2)


def _pass(latencies, classes, setup_s):
    from perfbench import run

    records = [{"latency_ms": x, "cls": c} for x, c in zip(latencies, classes)]
    return run.Pass(setup_s, {}, records, sum(latencies) / 1e3, 0, {})


def test_op_latency_is_its_best_over_passes():
    from perfbench import run

    passes = [_pass([900.0, 800.0, 700.0], ["key", "key", "other"], 20.0),
              _pass([100.0, 250.0, 60.0], ["key", "key", "other"], 3.0),
              _pass([120.0, 200.0, 80.0], ["key", "key", "other"], 4.0)]
    assert run.best_latencies(passes) == [100.0, 200.0, 60.0]
    m = run.latency_metrics([100.0, 200.0, 60.0], ["key", "key", "other"])
    assert m["ops_per_s"] == pytest.approx(3 / 0.36)
    assert m["latency_p50_ms"] == 100.0
    assert m["latency_p90_ms"] == pytest.approx(180.0)
    assert m["key_op_p50_ms"] == 150.0
    assert m["other_op_p50_ms"] == 60.0


def test_pass_ops_splits_the_nominal_op_count():
    from perfbench import run

    assert run.pass_ops(12) == 20
    assert run.pass_ops(30) == 50
    assert run.pass_ops(1) == run.MIN_PASS_OPS
