"""Each lake format decides a snapshot's live rows in one scan.

Delta's readers, change feeds and writers all read data files through
``delta._scan``; Iceberg's reader, its incremental read and its two
delete-emitting merges all read through ``iceberg._scan``.  These tests pin the reads that
used to go through private copies of that logic and drifted from it.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import DeltaError
from datafusion_catalogprovider_glue_spark.sources import iceberg_writer
from datafusion_catalogprovider_glue_spark.sources.delta import (
    read_delta,
    read_delta_cdf,
    read_delta_incremental,
)
from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
    append_delta,
    checkpoint_delta,
)
from datafusion_catalogprovider_glue_spark.sources.iceberg import (
    read_iceberg,
    read_iceberg_incremental,
    snap_current_id,
)
from tests.test_delta import _cm_meta, _commit


def _name_mapped_table(spark, path: str) -> None:
    """A name-mode table written by the engine: a column-mapped
    creation, then a plain append that detects the mode."""
    append_delta(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string"),
        path, column_mapping=True,
    )
    append_delta(spark.createDataFrame([(3, "z")], "id long, v string"), path)


def _id_mapped_table(spark, path: str) -> None:
    """An id-mode table whose files bind columns only by field id:
    physical names unrelated to the logical ones, in reversed order,
    one file per commit."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        pa.field("zz-str", pa.string(), metadata={b"PARQUET:field_id": b"2"}),
        pa.field("aa-long", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
    ])
    for version, rows in enumerate([[(1, "x"), (2, "y")], [(3, "z")]]):
        name = f"part-{version}.parquet"
        table = pa.table(
            {"zz-str": [v for _i, v in rows], "aa-long": [i for i, _v in rows]},
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, name))
        add = {"add": {"path": name, "partitionValues": {}}}
        _commit(path, version, ([_cm_meta(mode="id")] if version == 0 else []) + [add])


@pytest.mark.parametrize("build", [_name_mapped_table, _id_mapped_table])
def test_delta_change_feeds_read_column_mapped_tables(spark, tmp_path, build):
    """The incremental read and the change data feed of a column-mapped
    table return the rows the snapshot read returns (they used to read
    the logical names from physically named files: all nulls)."""
    path = str(tmp_path / "cm")
    build(spark, path)
    rows = sorted((r["id"], r["v"]) for r in read_delta(spark, path).collect())
    assert rows == [(1, "x"), (2, "y"), (3, "z")]
    incremental = read_delta_incremental(spark, path, begin=-1).collect()
    assert sorted((r["id"], r["v"], r["_commit_version"]) for r in incremental) == [
        (1, "x", 0), (2, "y", 0), (3, "z", 1)
    ]
    cdf = read_delta_cdf(spark, path).collect()
    assert sorted((r["id"], r["v"]) for r in cdf) == rows
    assert {r["_change_type"] for r in cdf} == {"insert"}


def test_delta_incremental_refuses_cleaned_up_commits(spark, tmp_path):
    """After a checkpoint and the legal deletion of commit 1, the
    incremental read refuses the range like the change data feed does,
    instead of silently returning versions 2 and 3 only."""
    path = str(tmp_path / "cleaned")
    for i in range(4):
        append_delta(spark.createDataFrame([(i,)], "k long"), path)
    checkpoint_delta(spark, path)
    os.remove(os.path.join(path, "_delta_log", f"{1:020d}.json"))
    assert sorted(r["k"] for r in read_delta(spark, path).collect()) == [0, 1, 2, 3]
    for feed in (
        lambda: read_delta_incremental(spark, path, begin=0),
        lambda: read_delta_cdf(spark, path),
    ):
        with pytest.raises(DeltaError, match=r"needs commits 0\.\.3 but \[1\] were cleaned up"):
            feed()


@pytest.mark.parametrize(
    "merge", ["merge_iceberg", "merge_iceberg_pos_delete", "merge_iceberg_dv_v3"]
)
def test_iceberg_merges_match_a_renamed_key(spark, tmp_path, merge):
    """A merge on a key renamed by schema evolution matches the rows
    written under the old name: each key keeps one row.  The
    delete-emitting merges used to scan the files under the current
    names, find no key, and leave the pre-image beside the update."""
    path = str(tmp_path / "ice")
    iceberg_writer.append_iceberg(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, v string, n long"),
        path,
    )
    iceberg_writer.evolve_iceberg_schema(
        path,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.LongType()),
        ]),
        renames={"k": "id"},
    )
    source = spark.createDataFrame([(2, "B", 21)], "id long, v string, n long")
    getattr(iceberg_writer, merge)(spark, path, source, on=["id"])
    rows = sorted(tuple(r) for r in read_iceberg(spark, path).collect())
    assert rows == [(1, "a", 10), (2, "B", 21)]


def test_iceberg_incremental_reads_across_a_rename(spark, tmp_path):
    """An append range that spans a column rename reads every appended
    file under the current names, like the snapshot read (it used to
    read each file under its own names and fail to union them)."""
    path = str(tmp_path / "ice")
    iceberg_writer.append_iceberg(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    first = snap_current_id(path)
    iceberg_writer.append_iceberg(spark.createDataFrame([(2, "b")], "k long, v string"), path)
    iceberg_writer.evolve_iceberg_schema(
        path,
        T.StructType([T.StructField("k", T.LongType()), T.StructField("w", T.StringType())]),
        renames={"v": "w"},
    )
    iceberg_writer.append_iceberg(spark.createDataFrame([(3, "c")], "k long, w string"), path)
    rows = read_iceberg_incremental(spark, path, first, snap_current_id(path))
    assert rows.columns == ["k", "w", "_snapshot_id"]
    assert sorted((r["k"], r["w"]) for r in rows.collect()) == [(2, "b"), (3, "c")]


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plain_lake_tables_plan_one_file_scan(spark, tmp_path):
    """An unpartitioned, unmapped, delete-free Delta or Iceberg table
    reads as one parquet scan: no per-file branch and no Union."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    delta_path, iceberg_path = str(tmp_path / "d"), str(tmp_path / "i")
    for _ in range(2):
        append_delta(df, delta_path)
        iceberg_writer.append_iceberg(df, iceberg_path)
    for read in (read_delta(spark, delta_path), read_iceberg(spark, iceberg_path)):
        plan = _physical_plan(read)
        assert plan.count("FileScan parquet") == 1, plan
        assert "Union" not in plan, plan
        assert read.count() == 6
