"""perfbench's tracer wraps catalog and engine entry points by name
(``perfbench/trace.py``, ``Tracer.install``).  A refactor that renames
or rebinds one of them leaves the benchmark's per-layer metrics at zero
without failing anything, so this pins the spans one registration of
each kind records, and the loads each makes."""

from __future__ import annotations

import os

from datafusion_catalogprovider_glue_spark.catalog.catalog import GlueCatalog
from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
    FakeGlueClient,
    parquet_table,
)
from perfbench.trace import LOAD, NAME, N, PARENT, REGISTER, Tracer


def _write(spark, loc, i):
    spark.range(i, i + 2).write.parquet(loc)


def test_tracer_records_registration_spans(spark, tmp_path):
    """A flat table, a GetPartitions list in the Hive layout, directory
    discovery and a scattered list record the spans perfbench reads,
    with one ``DataFrameReader.load`` per registration except the
    scattered list's one per partition."""
    root = str(tmp_path / "hive")
    hive = [os.path.join(root, f"k={k}") for k in "abc"]
    scattered = [str(tmp_path / f"scatter{k}") for k in "abc"]
    for i, loc in enumerate([*hive, *scattered]):
        _write(spark, loc, i)
    _write(spark, str(tmp_path / "flat"), 0)

    def listed(locs):
        return [{"Values": [k], "StorageDescriptor": {"Location": loc}}
                for k, loc in zip("abc", locs)]

    tables = {
        name: parquet_table("db", name, loc, [("id", "bigint")],
                            partition_keys=[("k", "string")] if keyed else None)
        for name, loc, keyed in (
            ("flat", str(tmp_path / "flat"), False), ("hive", root, True),
            ("discovered", root, True), ("scattered", str(tmp_path / "x"), True))
    }
    client = FakeGlueClient({"db": tables}, partitions={
        ("db", "hive"): listed(hive), ("db", "scattered"): listed(scattered)})
    catalog = GlueCatalog(spark, client, view_prefix="trc__")
    tracer = Tracer()
    tracer.install()
    try:
        for name in tables:
            catalog.register_table("db", name)
    finally:
        tracer.uninstall()

    spans = tracer.spans
    registrations = [i for i, s in enumerate(spans) if s[NAME] == REGISTER]
    assert [spans[i][N] for i in registrations] == [0, 3, 0, 3]
    names = {s[NAME] for s in spans}
    assert {"types:map_glue_columns_to_spark_schema",
            "sources.formats:calculate_reader_spec"} <= names

    def registration_of(i):
        while spans[i][NAME] != REGISTER:
            i = spans[i][PARENT]
        return i

    loads = [registration_of(i) for i, s in enumerate(spans) if s[NAME] == LOAD]
    assert [loads.count(i) for i in registrations] == [1, 1, 1, 3]
