"""The shared parquet footer fold and range test
(sources/parquet_stats.py) behind Delta's add stats, Iceberg's
manifest bounds and Hudi's column-stats index, plus the streaming
upsert sinks that write those formats."""

from __future__ import annotations

import datetime as _dt
import json
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    footer_stats,
    may_match,
)

SF = "/root/testdata/sf0.001"

# date, timestamp_ntz and decimal footers have no int/float/str
# min/max: the fold records nothing for them
_ODD_DDL = "k bigint, d date, tz timestamp_ntz, dec decimal(10,2)"
_ODD_ROWS = [
    (i, _dt.date(2024, 1, i), _dt.datetime(2024, 1, i, 1, 2, 3),
     Decimal(f"{i}.25"))
    for i in range(1, 7)
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_footer_stats_folds_row_groups_and_skips_logical_values(tmp_path):
    path = str(tmp_path / "f.parquet")
    pq.write_table(
        pa.table({
            "a": pa.array([3, None, 1, 7], pa.int64()),
            "s": pa.array(["b", "a", "d", "c"]),
            "d": pa.array([_dt.date(2024, 1, i) for i in range(1, 5)]),
            "flag": pa.array([True, False, True, True]),
        }),
        path,
        row_group_size=2,
    )
    n, stats = footer_stats(path)
    assert n == 4
    assert stats == {"a": (1, 7, 1), "s": ("a", "d", 0)}


def test_may_match_points_ranges_and_missing_bounds():
    lows, highs = {"a": 10}, {"a": 20}
    assert may_match(lows, highs, {"a": 15})
    assert not may_match(lows, highs, {"a": 21})
    assert may_match(lows, highs, {"a": (20, 30)})
    assert not may_match(lows, highs, {"a": (None, 9)})
    assert may_match(lows, highs, {"a": (None, None)})
    assert may_match(lows, highs, {"b": 99})  # no bounds: kept
    assert may_match({}, {}, {"a": 0})


_PROBES = {
    "d": _dt.date(1990, 1, 1),
    "tz": _dt.datetime(1990, 1, 1),
    "dec": Decimal("0.01"),
}


@pytest.mark.parametrize("col", ["d", "tz", "dec"])
def test_delta_append_and_merge_with_logical_column(spark, tmp_path, col):
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
        read_delta,
    )
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        append_delta,
        merge_delta,
    )

    table = str(tmp_path / "odd_delta")
    src = spark.createDataFrame(_ODD_ROWS, _ODD_DDL).select("k", col)
    append_delta(src.filter("k <= 4"), table, n_files=2)
    merge_delta(spark, table, src.filter("k >= 3"), on=["k"])
    snap = DeltaSnapshot(table)
    assert snap.version == 1
    assert _rows(read_delta(spark, table)) == _rows(src)
    assert snap._stats
    for st in snap._stats.values():
        assert "k" in st["minValues"]
        assert col not in st["minValues"] and col not in st["maxValues"]
    every = read_delta(spark, table).inputFiles()
    kept = read_delta(spark, table, stats_filter={col: _PROBES[col]})
    assert sorted(kept.inputFiles()) == sorted(every)


@pytest.mark.parametrize("col", ["d", "tz"])
def test_iceberg_append_with_logical_column(spark, tmp_path, col):
    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
        read_iceberg,
    )
    from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
        append_iceberg,
    )

    table = str(tmp_path / "odd_iceberg")
    src = spark.createDataFrame(_ODD_ROWS, _ODD_DDL).select("k", col)
    append_iceberg(src, table)
    assert _rows(read_iceberg(spark, table)) == _rows(src)
    bounds = IcebergSnapshot(table).bounds
    assert bounds
    for lows, highs in bounds.values():
        assert "k" in lows and "k" in highs
        assert col not in lows and col not in highs
    every = read_iceberg(spark, table).inputFiles()
    kept = read_iceberg(spark, table, stats_filter={col: _PROBES[col]})
    assert sorted(kept.inputFiles()) == sorted(every)


def test_hudi_stats_index_skips_decimal_and_boolean(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.sources import hudi as hudi_mod
    from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (
        append_hudi,
    )

    table = str(tmp_path / "odd_hudi")
    rows = [(r[0], r[3], r[0] % 2 == 0) for r in _ODD_ROWS]
    append_hudi(
        spark.createDataFrame(rows, "k bigint, dec decimal(10,2), b boolean"),
        table,
    )
    hudi_mod.index_hudi_column_stats(table)
    _instant, stats, _rels = hudi_mod._latest_col_stats(table, None)
    assert stats
    for st in stats.values():
        assert "k" in st
        assert "dec" not in st and "b" not in st

    def _data(df):
        return _rows(df.select("k", "dec", "b"))

    every = hudi_mod.read_hudi(spark, table)
    assert _data(every) == sorted(rows)
    for probe in ({"dec": _PROBES["dec"]}, {"b": True}):
        kept = hudi_mod.read_hudi(spark, table, stats_filter=probe)
        assert sorted(kept.inputFiles()) == sorted(every.inputFiles())
        assert _data(kept) == sorted(rows)


@pytest.mark.parametrize("partition_by", [None, "p"])
def test_append_iceberg_opens_each_data_file_once(
    spark, tmp_path, monkeypatch, partition_by
):
    """Row count and bounds of a written file come from one read of
    its footer."""
    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
    )
    from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
        append_iceberg,
    )

    # a footer opens through ``pq.read_metadata(path)`` or
    # ``pq.ParquetFile(path)``; read_metadata hands ParquetFile an open
    # file, not a path, so no open counts twice
    opened = []
    real_read_metadata = pq.read_metadata
    real_init = pq.ParquetFile.__init__

    def counting_read_metadata(where, *args, **kwargs):
        opened.append(os.path.realpath(where))
        return real_read_metadata(where, *args, **kwargs)

    def counting_init(self, source, *args, **kwargs):
        if isinstance(source, str):
            opened.append(os.path.realpath(source))
        real_init(self, source, *args, **kwargs)

    table = str(tmp_path / "opens")
    df = spark.createDataFrame(
        [(i, i % 2, f"s{i}") for i in range(8)], "k bigint, p int, s string"
    )
    monkeypatch.setattr(pq, "read_metadata", counting_read_metadata)
    monkeypatch.setattr(pq.ParquetFile, "__init__", counting_init)
    append_iceberg(df, table, n_files=2, partition_by=partition_by)
    monkeypatch.undo()
    files = [os.path.realpath(f) for f in IcebergSnapshot(table).files]
    assert files
    assert {f: opened.count(f) for f in files} == {f: 1 for f in files}


def _nano_copy(src: str, dst) -> str:
    """A copy of the sf-dir's events table whose ``ts`` is stored as
    TIMESTAMP(NANOS)."""
    dst.mkdir()
    t = pq.read_table(os.path.join(src, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column(i).cast(pa.timestamp("ns")))
    pq.write_table(t, str(dst / "events.parquet"))
    return str(dst)


def test_stream_upserts_read_nano_timestamp_testdata(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.streaming.windows import (
        stream_upsert_delta,
        stream_upsert_hudi,
        stream_upsert_iceberg,
    )
    from datafusion_catalogprovider_glue_spark.tables import (
        _events_ts_is_nanos,
    )

    nano = _nano_copy(SF, tmp_path / "nano")
    assert _events_ts_is_nanos(nano) and not _events_ts_is_nanos(SF)
    for fn in (stream_upsert_delta, stream_upsert_iceberg, stream_upsert_hudi):
        want = _rows(fn(spark, SF))
        assert want, fn.__name__
        assert _rows(fn(spark, nano)) == want, fn.__name__


def test_delta_stats_json_shape(tmp_path):
    """The add ``stats`` string keeps the protocol's shape around the
    shared fold."""
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        _file_stats,
    )

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"a": [2, None, 5], "s": ["x", "y", None]}), path)
    assert json.loads(_file_stats(path)) == {
        "numRecords": 3,
        "minValues": {"a": 2, "s": "x"},
        "maxValues": {"a": 5, "s": "y"},
        "nullCount": {"a": 1, "s": 1},
    }
