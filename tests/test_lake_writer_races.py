"""The lake writers' files under concurrent writers.

Every Delta, Iceberg and Hudi data file is written by
``parquet_stats.write_data_files`` and claimed put-if-absent, and
Iceberg's manifests and metadata files are claimed the same way.  A
writer that read the table before another writer committed must
therefore fail, and the table must read exactly what the winner
committed, with every file the winner wrote unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading

import pytest

from datafusion_catalogprovider_glue_spark.sources import (
    delta_writer,
    hudi_writer,
    iceberg_writer,
)
from datafusion_catalogprovider_glue_spark.sources.delta import read_delta
from datafusion_catalogprovider_glue_spark.sources.hudi import read_hudi
from datafusion_catalogprovider_glue_spark.sources.iceberg import read_iceberg
from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    ConcurrentWriteError,
    write_data_files,
)

SCHEMA = "id long, k string"


def _digests(root: str) -> dict[str, str]:
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            full = os.path.join(r, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, root)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


def _rows(df) -> list[tuple]:
    return sorted((r["id"], r["k"]) for r in df.select("id", "k").collect())


# each returns a patch that replays, later, what a writer read NOW
def _delta_read(table):
    version = delta_writer._next_version(delta_writer._log_dir(table))
    return lambda mp: mp.setattr(
        delta_writer, "_next_version", lambda _d: version
    )


def _iceberg_read(table):
    version, meta = iceberg_writer._load_meta(os.path.join(table, "metadata"))
    text = json.dumps(meta)
    return lambda mp: mp.setattr(
        iceberg_writer, "_load_meta", lambda _d: (version, json.loads(text))
    )


def _hudi_read(table):
    instant = hudi_writer._next_instant(table)
    return lambda mp: mp.setattr(
        hudi_writer, "_next_instant", lambda _loc: instant
    )


LAKES = {
    "delta": (delta_writer.append_delta, read_delta, _delta_read),
    "iceberg": (iceberg_writer.append_iceberg, read_iceberg, _iceberg_read),
    "hudi": (hudi_writer.append_hudi, read_hudi, _hudi_read),
}


@pytest.mark.parametrize("lake", sorted(LAKES))
def test_stale_writer_loses_without_touching_the_winners_files(
    spark, tmp_path, monkeypatch, lake
):
    """Base append; the loser reads the table; the winner appends; the
    loser appends from what it read.  The loser must raise, and the
    table must read the base rows plus the winner's, with no file the
    winner or the base committed changed or gone."""
    append, read, stale_read = LAKES[lake]
    table = str(tmp_path / lake)
    base, winner = [(1, "base"), (2, "base")], [(10, "winner")]
    append(spark.createDataFrame(base, SCHEMA), table)
    loser_view = stale_read(table)
    append(spark.createDataFrame(winner, SCHEMA), table)
    committed = _digests(table)
    loser_view(monkeypatch)
    with pytest.raises(ConcurrentWriteError):
        append(spark.createDataFrame([(20, "loser")], SCHEMA), table)
    monkeypatch.undo()
    assert _rows(read(spark, table)) == sorted(base + winner)
    after = _digests(table)
    changed = [rel for rel, d in committed.items() if after.get(rel) != d]
    assert not changed, changed


def test_iceberg_metadata_publish_is_put_if_absent(spark, tmp_path):
    """Mirrors the Delta commit-point test: two publishes of the same
    next version — the second refuses and the first stays intact."""
    table = str(tmp_path / "ice")
    iceberg_writer.append_iceberg(
        spark.createDataFrame([(1, "a")], SCHEMA), table
    )
    meta_dir = os.path.join(table, "metadata")
    version, meta = iceberg_writer._load_meta(meta_dir)
    iceberg_writer._publish_metadata(meta_dir, version, dict(meta, w="win"))
    with pytest.raises(ConcurrentWriteError, match="already exists"):
        iceberg_writer._publish_metadata(
            meta_dir, version, dict(meta, w="lose")
        )
    with open(os.path.join(meta_dir, f"v{version + 1}.metadata.json")) as fh:
        assert json.load(fh)["w"] == "win"
    assert not [f for f in os.listdir(meta_dir) if f.endswith(".tmp")]


def test_stale_iceberg_metadata_only_commit_keeps_the_winners_snapshot(
    spark, tmp_path, monkeypatch
):
    """A tag commit (metadata only) from a writer holding metadata
    older than the winner's append must refuse, not publish the stale
    snapshot list over the winner's."""
    table = str(tmp_path / "ice")
    iceberg_writer.append_iceberg(
        spark.createDataFrame([(1, "base")], SCHEMA), table
    )
    loser_view = _iceberg_read(table)
    won = iceberg_writer.append_iceberg(
        spark.createDataFrame([(10, "winner")], SCHEMA), table
    )
    loser_view(monkeypatch)
    with pytest.raises(ConcurrentWriteError):
        iceberg_writer.tag_iceberg(table, "audited")
    monkeypatch.undo()
    _version, meta = iceberg_writer._load_meta(os.path.join(table, "metadata"))
    assert meta["current-snapshot-id"] == won
    assert "audited" not in (meta.get("refs") or {})
    assert _rows(read_iceberg(spark, table)) == [(1, "base"), (10, "winner")]


def test_concurrent_writers_return_and_place_only_their_own_files(
    spark, tmp_path
):
    """Two threads write into one table root and one directory at
    once: each gets back exactly its own part files — never the other
    writer's, which share the directory — and every file is placed."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    results, errors = {}, []

    def _write(tag: int) -> None:
        try:
            df = spark.range(tag * 1000, tag * 1000 + 200, numPartitions=3)
            results[tag] = write_data_files(
                df, root, lambda rel, _v, _i: f"commit-0/{rel}", n_files=3
            )
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [threading.Thread(target=_write, args=(t,)) for t in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    assert not any(th.is_alive() for th in threads)
    for tag, files in results.items():
        assert len(files) == 3
        ids = set()
        for rel, values in files:
            assert values == {}
            ids |= set(pq.read_table(os.path.join(root, rel))["id"].to_pylist())
        assert ids == set(range(tag * 1000, tag * 1000 + 200))
    placed = sorted(os.listdir(os.path.join(root, "commit-0")))
    returned = sorted(
        os.path.basename(rel) for files in results.values() for rel, _ in files
    )
    assert placed == returned
    assert sorted(os.listdir(root)) == ["commit-0"]  # staging removed


def test_taken_name_refuses_and_unplaces_this_writers_files(spark, tmp_path):
    """A name another writer holds raises ConcurrentWriteError naming
    it; the holder's file is untouched and the files this call already
    placed are taken back, along with the staging directory."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "data"))
    taken = os.path.join(root, "data", "f1.parquet")
    with open(taken, "wb") as fh:
        fh.write(b"the winner's bytes")
    with pytest.raises(ConcurrentWriteError, match="f1.parquet"):
        write_data_files(
            spark.range(0, 10, numPartitions=2), root,
            lambda _rel, _v, i: f"data/f{i}.parquet", n_files=2,
        )
    with open(taken, "rb") as fh:
        assert fh.read() == b"the winner's bytes"
    assert sorted(os.listdir(root)) == ["data"]
    assert os.listdir(os.path.join(root, "data")) == ["f1.parquet"]


KEYS = ["a/b", "x=y", "p%q", "sp ace", "ü", "#h", "a:b", None]


@pytest.mark.parametrize("lake", sorted(LAKES))
def test_partition_values_round_trip_through_every_writer(
    spark, tmp_path, lake
):
    """Hive-escaped and NULL partition values come back unchanged
    through each format's partitioned append and read."""
    append, read, _stale = LAKES[lake]
    table = str(tmp_path / lake)
    rows = [(i, k) for i, k in enumerate(KEYS)]
    append(spark.createDataFrame(rows, SCHEMA), table, partition_by="k")
    assert _rows(read(spark, table)) == rows
