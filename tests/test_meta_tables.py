"""Table-metadata queries: Delta DESCRIBE HISTORY, Iceberg
snapshots/files metadata tables, Hudi timeline view — plus the
writer-side bookkeeping they project (commitInfo actions, add stats,
snapshot summaries, numWrites)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datafusion_catalogprovider_glue_spark.sources.delta import (
    delta_history,
    read_delta,
)
from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
    append_delta,
    compact_delta,
    merge_delta,
    restore_delta,
)
from datafusion_catalogprovider_glue_spark.sources.hudi import (
    hudi_timeline_df,
)
from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (
    append_hudi,
    upsert_hudi,
)
from datafusion_catalogprovider_glue_spark.sources.iceberg import (
    iceberg_files_df,
    iceberg_snapshots_df,
)
from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
    append_iceberg,
    compact_iceberg,
    delete_iceberg_eq,
    merge_iceberg,
    merge_iceberg_pos_delete,
)


def _frame(spark, n=20):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 10).alias("n"),
    )


def test_delta_history_operations_and_stats(spark, tmp_path):
    t = str(tmp_path / "dh")
    df = _frame(spark)
    append_delta(df.repartition(2), t)
    merge_delta(
        spark, t,
        df.filter(F.col("k") < 5).withColumn("n", F.col("n") + 1),
        on=["k"],
    )
    compact_delta(spark, t)
    restore_delta(spark, t, 0)
    hist = {r["version"]: r for r in delta_history(spark, t).collect()}
    assert [hist[v]["operation"] for v in sorted(hist)] == [
        "WRITE", "MERGE", "OPTIMIZE", "RESTORE",
    ]
    assert hist[0]["rows_added"] == 20
    assert hist[1]["rows_added"] == 20  # full CoW rewrite of 20 keys
    assert hist[2]["rows_added"] == 20
    assert hist[0]["n_added_files"] == 2
    assert hist[2]["n_removed_files"] >= 1
    # history is a metadata projection: the table itself is untouched
    assert read_delta(spark, t).count() == 20


def test_delta_history_unknown_commitinfo(spark, tmp_path):
    """Commits from writers that omit commitInfo surface as UNKNOWN."""
    t = str(tmp_path / "dh_unknown")
    append_delta(_frame(spark), t)
    log = os.path.join(t, "_delta_log", f"{0:020d}.json")
    actions = [
        json.loads(line) for line in open(log) if line.strip()
    ]
    stripped = [a for a in actions if "commitInfo" not in a]
    with open(log, "w") as fh:
        for a in stripped:
            fh.write(json.dumps(a) + "\n")
    hist = delta_history(spark, t).collect()
    assert hist[0]["operation"] == "UNKNOWN"
    assert hist[0]["rows_added"] == 20  # stats survive independently


def test_iceberg_snapshots_counts_and_ops(spark, tmp_path):
    t = str(tmp_path / "isnap")
    df = _frame(spark)
    append_iceberg(df.filter(F.col("k") < 12), t)          # 12 rows
    append_iceberg(df.filter(F.col("k") >= 12), t)         # 8 rows
    merge_iceberg(
        spark, t, df.withColumn("n", F.col("n") + 1), on=["k"]
    )                                                      # overwrite
    compact_iceberg(spark, t)                              # replace
    snaps = iceberg_snapshots_df(spark, t).orderBy("seq").collect()
    assert [s["operation"] for s in snaps] == [
        "append", "append", "overwrite", "replace",
    ]
    assert [s["added_rows"] for s in snaps] == [12, 8, 20, 20]
    assert [s["live_rows"] for s in snaps] == [12, 20, 20, 20]
    assert snaps[0]["added_delete_files"] == 0


def test_iceberg_snapshots_delete_ops(spark, tmp_path):
    t = str(tmp_path / "isnap_del")
    df = _frame(spark)
    append_iceberg(df, t)
    merge_iceberg_pos_delete(
        spark, t, df.filter(F.col("k") < 3).withColumn("n", F.lit(0)),
        on=["k"],
    )
    delete_iceberg_eq(spark, t, _frame(spark).select("k").filter(F.col("k") == 19))
    snaps = iceberg_snapshots_df(spark, t).orderBy("seq").collect()
    assert snaps[1]["operation"] == "overwrite"
    assert snaps[1]["added_delete_files"] == 1  # the pos-delete file
    assert snaps[2]["operation"] == "delete"
    assert snaps[2]["added_delete_files"] == 1  # the eq-delete file


def test_iceberg_files_partition_rollup(spark, tmp_path):
    t = str(tmp_path / "ifiles")
    df = _frame(spark, 30)
    append_iceberg(df.repartition("g"), t, partition_by="g")
    files = iceberg_files_df(spark, t)
    rows = {
        json.loads(r["partition"])["g"]: (r["record_count"],)
        for r in files.collect()
    }
    assert sum(v[0] for v in rows.values()) == 30
    assert set(rows) == {"0", "1", "2"}
    # one file per partition (pre-shuffled by the partition column)
    assert files.count() == 3
    assert files.filter(F.col("record_count") <= 0).count() == 0


def test_hudi_timeline_rows_written(spark, tmp_path):
    t = str(tmp_path / "htl")
    df = _frame(spark)
    append_hudi(df.filter(F.col("k") < 15).repartition("g"), t,
                partition_by="g")
    append_hudi(df.filter(F.col("k") >= 15).repartition("g"), t,
                partition_by="g")
    tl = hudi_timeline_df(spark, t).orderBy("seq").collect()
    assert [r["action"] for r in tl] == ["commit", "commit"]
    assert [r["rows_written"] for r in tl] == [15, 5]
    assert tl[0]["n_partitions"] == 3
    # 15..19 → g in {0,1,2}: 15,18→0? 15%3=0,16→1,17→2,18→0,19→1 → 3
    assert tl[1]["n_partitions"] == 3


def test_hudi_timeline_upsert_instant(spark, tmp_path):
    t = str(tmp_path / "htl_up")
    df = _frame(spark).drop("g")
    append_hudi(df, t)
    upsert_hudi(spark, df.filter(F.col("k") < 4).withColumn(
        "n", F.col("n") + 1), t, key="k")
    tl = hudi_timeline_df(spark, t).orderBy("seq").collect()
    assert len(tl) == 2
    assert tl[0]["rows_written"] == 20
    # the upsert rewrites the touched groups wholesale (CoW): its
    # numWrites is the rewritten-group row count, at least the 4
    # matched rows
    assert tl[1]["rows_written"] >= 4


def test_hudi_timeline_refuses_non_table(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.errors import SparkError

    with pytest.raises(SparkError):
        hudi_timeline_df(spark, str(tmp_path / "nope"))


# ---- refs: tags, branches, write-audit-publish ----

from datafusion_catalogprovider_glue_spark.sources.iceberg import (  # noqa: E402
    iceberg_ref_snapshot,
    read_iceberg,
)
from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (  # noqa: E402
    branch_iceberg,
    publish_iceberg_branch,
    tag_iceberg,
)


def test_iceberg_tag_pins_snapshot(spark, tmp_path):
    t = str(tmp_path / "tag")
    df = _frame(spark)
    append_iceberg(df.filter(F.col("k") < 10), t)
    tag_iceberg(t, "v1")
    append_iceberg(df.filter(F.col("k") >= 10), t)
    assert read_iceberg(spark, t, ref="v1").count() == 10
    assert read_iceberg(spark, t).count() == 20
    with pytest.raises(ValueError):
        tag_iceberg(t, "v1")  # immutable
    with pytest.raises(Exception):
        read_iceberg(spark, t, ref="nope")


def test_iceberg_branch_stacks_and_publishes(spark, tmp_path):
    t = str(tmp_path / "wap")
    df = _frame(spark)
    append_iceberg(df.filter(F.col("k") < 10), t)
    append_iceberg(
        df.filter((F.col("k") >= 10) & (F.col("k") < 15)), t, branch="stage"
    )
    append_iceberg(df.filter(F.col("k") >= 15), t, branch="stage")
    # two stacked branch commits; main untouched
    assert read_iceberg(spark, t).count() == 10
    assert read_iceberg(spark, t, ref="stage").count() == 20
    publish_iceberg_branch(t, "stage")
    assert read_iceberg(spark, t).count() == 20
    # the ref survives the publish and equals main
    assert iceberg_ref_snapshot(t, "stage") is not None


def test_iceberg_publish_refuses_diverged_main(spark, tmp_path):
    t = str(tmp_path / "wap_diverge")
    df = _frame(spark)
    append_iceberg(df.filter(F.col("k") < 10), t)
    append_iceberg(df.filter(F.col("k") >= 15), t, branch="stage")
    # main advances past the branch point → fast-forward must refuse
    append_iceberg(df.filter((F.col("k") >= 10) & (F.col("k") < 15)), t)
    with pytest.raises(ValueError, match="not an ancestor"):
        publish_iceberg_branch(t, "stage")


def test_iceberg_branch_append_refuses_tag(spark, tmp_path):
    t = str(tmp_path / "tag_not_branch")
    df = _frame(spark)
    append_iceberg(df, t)
    tag_iceberg(t, "pinned")
    with pytest.raises(ValueError, match="tags are immutable"):
        append_iceberg(df, t, branch="pinned")
    with pytest.raises(ValueError, match="no branch ref"):
        publish_iceberg_branch(t, "pinned")


def test_iceberg_branch_time_travel_composes(spark, tmp_path):
    """A branch commit is a real snapshot: snapshot-id time travel and
    the snapshots metadata table both see it."""
    t = str(tmp_path / "branch_meta")
    df = _frame(spark)
    append_iceberg(df.filter(F.col("k") < 10), t)
    branch_iceberg(t, "b")
    append_iceberg(df.filter(F.col("k") >= 10), t, branch="b")
    sid = iceberg_ref_snapshot(t, "b")
    assert read_iceberg(spark, t, snapshot_id=sid).count() == 20
    snaps = iceberg_snapshots_df(spark, t).orderBy("seq").collect()
    assert len(snaps) == 2
    assert snaps[1]["live_rows"] == 20


# ---- Delta CHECK constraints ----

from datafusion_catalogprovider_glue_spark.sources.delta_writer import (  # noqa: E402
    add_delta_constraint,
    drop_delta_constraint,
)


def test_delta_constraint_gates_appends_and_merges(spark, tmp_path):
    t = str(tmp_path / "ck")
    df = _frame(spark)
    append_delta(df, t)
    add_delta_constraint(spark, t, "n_nonneg", "n >= 0")
    with pytest.raises(ValueError, match="violated"):
        append_delta(df.withColumn("n", F.lit(-5).cast("long")), t)
    with pytest.raises(ValueError, match="violated"):
        merge_delta(
            spark, t, df.limit(3).withColumn("n", F.lit(-5).cast("long")), on=["k"]
        )
    # NULL is a violation (expression must be TRUE)
    with pytest.raises(ValueError, match="violated"):
        append_delta(df.withColumn("n", F.lit(None).cast("long")), t)
    # conforming writes pass, constraint survives the metaData commit
    append_delta(df.withColumn("k", F.col("k") + 100), t)
    assert read_delta(spark, t).count() == 40


def test_delta_constraint_add_validates_existing(spark, tmp_path):
    t = str(tmp_path / "ck_existing")
    append_delta(_frame(spark), t)
    with pytest.raises(ValueError, match="violated"):
        add_delta_constraint(spark, t, "impossible", "n > 1000")
    add_delta_constraint(spark, t, "ok", "n >= 0")
    with pytest.raises(ValueError, match="already exists"):
        add_delta_constraint(spark, t, "ok", "n >= 0")


def test_delta_constraint_drop_reopens(spark, tmp_path):
    t = str(tmp_path / "ck_drop")
    df = _frame(spark)
    append_delta(df, t)
    add_delta_constraint(spark, t, "n_nonneg", "n >= 0")
    drop_delta_constraint(spark, t, "n_nonneg")
    append_delta(df.withColumn("n", F.lit(-5).cast("long")).withColumn(
        "k", F.col("k") + 100), t)  # allowed again
    assert read_delta(spark, t).count() == 40
    hist = [r["operation"] for r in delta_history(spark, t).collect()]
    assert "ADD CONSTRAINT" in hist and "DROP CONSTRAINT" in hist
    with pytest.raises(ValueError, match="no constraint"):
        drop_delta_constraint(spark, t, "n_nonneg")


def test_delta_constraint_survives_checkpoint(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        checkpoint_delta,
    )

    t = str(tmp_path / "ck_ckpt")
    df = _frame(spark)
    append_delta(df, t)
    add_delta_constraint(spark, t, "n_nonneg", "n >= 0")
    v = checkpoint_delta(spark, t)
    log_dir = os.path.join(t, "_delta_log")
    for f in os.listdir(log_dir):
        if f.endswith(".json") and f[:-5].isdigit() and int(f[:-5]) <= v:
            os.remove(os.path.join(log_dir, f))
    # the configuration (and thus enforcement) must survive the replay
    with pytest.raises(ValueError, match="violated"):
        append_delta(df.withColumn("n", F.lit(-5).cast("long")), t)


# ---- Hudi clustering (replacecommit) ----

from datafusion_catalogprovider_glue_spark.sources.hudi import (  # noqa: E402
    read_hudi,
    read_hudi_incremental,
)
from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (  # noqa: E402
    append_hudi_log,
    cluster_hudi,
)


def test_hudi_clustering_replaces_groups(spark, tmp_path):
    t = str(tmp_path / "clu")
    df = _frame(spark).drop("g")
    append_hudi(df, t, n_groups=3)
    pre = sorted(f for f in os.listdir(t) if f.endswith(".parquet"))
    instant = cluster_hudi(spark, t, "k", n_groups=2)
    got = {(r["k"], r["n"]) for r in
           read_hudi(spark, t).select("k", "n").collect()}
    assert got == {(i, i * 10) for i in range(20)}
    # old base files survive on disk for time travel
    for f in pre:
        assert os.path.exists(os.path.join(t, f))
    assert read_hudi(spark, t, as_of=str(int(instant) - 1)).count() == 20
    # timeline shows the replacecommit
    tl = hudi_timeline_df(spark, t).orderBy("seq").collect()
    assert [r["action"] for r in tl] == ["commit", "replacecommit"]
    assert tl[1]["rows_written"] == 20


def test_hudi_clustering_preserves_commit_times(spark, tmp_path):
    """Clustering is a layout change: rows keep their original
    _hoodie_commit_time, so incremental consumers don't re-see them."""
    t = str(tmp_path / "clu_ct")
    df = _frame(spark).drop("g")
    i1 = append_hudi(df.filter(F.col("k") < 10), t)
    i2 = append_hudi(df.filter(F.col("k") >= 10), t)
    instant = cluster_hudi(spark, t, "k")
    cts = {
        r["_hoodie_commit_time"]
        for r in read_hudi(spark, t).select("_hoodie_commit_time").collect()
    }
    assert cts == {i1, i2}
    # row-level incremental from i1: only i2's rows, despite clustering
    inc = read_hudi_incremental(spark, t, begin=i1)
    assert {r["k"] for r in inc.select("k").collect()} == set(range(10, 20))


def test_hudi_clustering_refuses_pending_logs(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.errors import SparkError

    t = str(tmp_path / "clu_mor")
    df = _frame(spark).drop("g")
    append_hudi(df, t, n_groups=1)
    fid = json.load(
        open(os.path.join(t, ".hoodie", sorted(
            f for f in os.listdir(os.path.join(t, ".hoodie"))
            if f.endswith(".commit")
        )[0]))
    )["partitionToWriteStats"][""][0]["fileId"]
    append_hudi_log(
        spark, df.filter(F.col("k") < 2).withColumn("n", F.lit(0).cast("long")),
        t, file_id=fid,
    )
    with pytest.raises(SparkError, match="delta logs"):
        cluster_hudi(spark, t, "k")


def test_merge_delta_extra_source_columns_cdc_shape(spark, tmp_path):
    """merge_delta allows EXTRA source columns (they never land in the
    table) so matched conditions can read a CDC _op column — and still
    refuses a source MISSING table columns."""
    t = str(tmp_path / "cdc_shape")
    df = _frame(spark)
    append_delta(df, t)
    src = (
        df.filter(F.col("k") < 6)
        .withColumn("n", F.col("n") + 1)
        .withColumn(
            "_op",
            F.when(F.col("k") < 3, F.lit("delete")).otherwise(F.lit("upsert")),
        )
    )
    merge_delta(
        spark, t, src, on=["k"],
        matched_delete=F.col("s._op") == "delete",
    )
    out = {(r["k"], r["n"]) for r in read_delta(spark, t).collect()}
    assert out == (
        {(k, k * 10 + 1) for k in range(3, 6)}          # updated
        | {(k, k * 10) for k in range(6, 20)}           # untouched
    )
    assert "_op" not in read_delta(spark, t).columns
    with pytest.raises(ValueError, match="lacks table columns"):
        merge_delta(spark, t, df.drop("n"), on=["k"])


# ---- Delta column-mapping writes (name mode) ----

import pyarrow.parquet as _pq  # noqa: E402

from datafusion_catalogprovider_glue_spark.sources.delta import (  # noqa: E402
    DeltaSnapshot,
)


def test_delta_cm_write_roundtrip_and_protocol(spark, tmp_path):
    t = str(tmp_path / "cm")
    df = _frame(spark)
    append_delta(df.filter(F.col("k") < 10), t, column_mapping=True)
    append_delta(df.filter(F.col("k") >= 10), t)  # mode auto-detected
    snap = DeltaSnapshot(t)
    assert snap.column_mapping_mode == "name"
    for p in snap.files:
        assert all(n.startswith("col-") for n in _pq.read_schema(p).names)
    out = {(r["k"], r["g"], r["n"]) for r in read_delta(spark, t).collect()}
    assert out == {(i, str(i % 3), i * 10) for i in range(20)}
    # protocol advertises (2, 5)
    log0 = os.path.join(t, "_delta_log", f"{0:020d}.json")
    protos = [
        json.loads(line)["protocol"]
        for line in open(log0)
        if '"protocol"' in line and json.loads(line).get("protocol")
    ]
    assert protos == [{"minReaderVersion": 2, "minWriterVersion": 5}]
    # time travel composes (logical names at every version)
    assert read_delta(spark, t, version=0).count() == 10


def test_delta_cm_write_refusals(spark, tmp_path):
    t = str(tmp_path / "cm_refuse")
    df = _frame(spark)
    with pytest.raises(ValueError, match="partitioning"):
        append_delta(df, t + "_p", column_mapping=True, partition_by="g")
    append_delta(df, t, column_mapping=True)
    with pytest.raises(ValueError, match="column-mapped"):
        merge_delta(spark, t, df, on=["k"])
    with pytest.raises(ValueError, match="column-mapped"):
        compact_delta(spark, t)
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        merge_delta_dv,
    )

    with pytest.raises(ValueError, match="column-mapped"):
        merge_delta_dv(spark, t, df, on=["k"], matched_delete=F.lit(True))


# ---- Delta generated columns ----


def test_delta_generated_compute_validate_merge(spark, tmp_path):
    t = str(tmp_path / "gen")
    df = _frame(spark)
    append_delta(
        df.filter(F.col("k") < 10), t,
        generated={"n2": "n * 2"},
    )
    out = read_delta(spark, t)
    assert {(r["k"], r["n2"]) for r in out.select("k", "n2").collect()} == {
        (i, i * 20) for i in range(10)
    }
    # append supplying a WRONG value refuses
    with pytest.raises(ValueError, match="generated column"):
        append_delta(
            df.filter(F.col("k") >= 10)
            .withColumn("n2", F.lit(0).cast("long")),
            t,
        )
    # append omitting it computes
    append_delta(df.filter(F.col("k") >= 10), t)
    assert read_delta(spark, t).count() == 20
    # merge validates the source expression too
    good = (
        df.filter(F.col("k") < 3)
        .withColumn("n", F.col("n") + 1)
        .withColumn("n2", (F.col("n") * 2))
    )
    merge_delta(spark, t, good, on=["k"])
    bad = good.withColumn("n2", F.lit(7).cast("long"))
    with pytest.raises(ValueError, match="generated column"):
        merge_delta(spark, t, bad, on=["k"])
    # NULL-safe: expression over a NULL input matches a NULL value
    nulls = spark.createDataFrame(
        [(100, "x", None)], "k long, g string, n long"
    )
    append_delta(nulls, t)
    row = read_delta(spark, t).filter(F.col("k") == 100).collect()[0]
    assert row["n2"] is None


# ---- Delta data skipping (stats_filter) ----


def test_delta_stats_skipping_prunes_and_preserves(spark, tmp_path):
    t = str(tmp_path / "skip")
    df = _frame(spark, 100)
    append_delta(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        t, n_files=4,
    )
    snap = DeltaSnapshot(t)
    # every add carries min/max for the long columns
    for p, st in snap._stats.items():
        assert "k" in st["minValues"] and "k" in st["maxValues"], (p, st)
    full = read_delta(spark, t)
    assert len(full.inputFiles()) == 4
    pruned = read_delta(spark, t, stats_filter={"k": 7})
    assert len(pruned.inputFiles()) == 1
    assert {r["k"] for r in pruned.filter(F.col("k") == 7).collect()} == {7}
    # range filter spanning two files
    rng = read_delta(spark, t, stats_filter={"k": (20, 30)})
    assert 1 <= len(rng.inputFiles()) <= 2
    assert rng.filter(F.col("k").between(20, 30)).count() == 11
    # string column stats prune too
    sp = read_delta(spark, t, stats_filter={"g": "9"})
    assert len(sp.inputFiles()) == 0 or sp.filter(F.col("g") == "9").count() == 0
    # a filter on a column without stats keeps everything
    assert len(
        read_delta(spark, t, stats_filter={"nope": 1}).inputFiles()
    ) == 4


def test_delta_stats_skipping_conservative_without_stats(spark, tmp_path):
    """Adds written WITHOUT stats (foreign writers) are never pruned."""
    t = str(tmp_path / "skip_none")
    append_delta(_frame(spark), t)
    log = os.path.join(t, "_delta_log", f"{0:020d}.json")
    lines = []
    for line in open(log):
        a = json.loads(line)
        if a.get("add"):
            a["add"].pop("stats", None)
        lines.append(json.dumps(a))
    with open(log, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    pruned = read_delta(spark, t, stats_filter={"k": -999})
    assert len(pruned.inputFiles()) == 2  # kept, not mis-pruned
    assert pruned.filter(F.col("k") == -999).count() == 0


# ---- Iceberg column-bounds pruning ----

from datafusion_catalogprovider_glue_spark.sources.iceberg import (  # noqa: E402
    IcebergSnapshot,
)


def test_iceberg_bounds_prune_and_preserve(spark, tmp_path):
    t = str(tmp_path / "ibounds")
    df = _frame(spark, 100)
    append_iceberg(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        t, n_files=4,
    )
    snap = IcebergSnapshot(t)
    assert len(snap.bounds) == 4
    for lo, hi in snap.bounds.values():
        assert "k" in lo and "k" in hi and lo["k"] <= hi["k"]
    assert len(read_iceberg(spark, t).inputFiles()) == 4
    pruned = read_iceberg(spark, t, stats_filter={"k": 7})
    assert len(pruned.inputFiles()) == 1
    assert {r["k"] for r in pruned.filter(F.col("k") == 7).collect()} == {7}
    rng = read_iceberg(spark, t, stats_filter={"k": (20, 30)})
    assert 1 <= len(rng.inputFiles()) <= 2
    assert rng.filter(F.col("k").between(20, 30)).count() == 11


def test_iceberg_bounds_compose_with_deletes(spark, tmp_path):
    """Bounds pruning must not break row-level delete application:
    deletes apply to whatever files survive."""
    t = str(tmp_path / "ibounds_del")
    df = _frame(spark, 40)
    append_iceberg(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"), t, n_files=4
    )
    merge_iceberg_pos_delete(
        spark, t,
        df.filter(F.col("k").isin(5, 6)).withColumn("n", F.lit(0)),
        on=["k"], matched_delete=F.expr("true"),
    )
    out = read_iceberg(spark, t, stats_filter={"k": (0, 9)})
    ks = {r["k"] for r in out.filter(F.col("k") < 10).collect()}
    assert ks == set(range(10)) - {5, 6}


def test_hudi_upsert_after_clustering_routes_to_live_groups(spark, tmp_path):
    """The upsert routing index must fold replacecommits: routing
    against raw .commit metadata would rewrite RETIRED groups and
    duplicate rows on the next snapshot."""
    t = str(tmp_path / "clu_upsert")
    df = _frame(spark).drop("g")
    append_hudi(df, t, n_groups=3)
    cluster_hudi(spark, t, "k", n_groups=2)
    upsert_hudi(
        spark, df.filter(F.col("k") < 5).withColumn("n", F.col("n") + 1),
        t, key="k",
    )
    got = {(r["k"], r["n"]) for r in
           read_hudi(spark, t).select("k", "n").collect()}
    assert got == (
        {(i, i * 10 + 1) for i in range(5)}
        | {(i, i * 10) for i in range(5, 20)}
    )


def test_hudi_mor_log_ops_refuse_clustered_tables(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.errors import SparkError
    from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (
        upsert_hudi_log,
    )

    t = str(tmp_path / "clu_mor_refuse")
    df = _frame(spark).drop("g")
    append_hudi(df, t, n_groups=1)
    cluster_hudi(spark, t, "k")
    with pytest.raises(SparkError, match="replacecommit"):
        upsert_hudi_log(
            spark, df.filter(F.col("k") < 2), t, key="k"
        )
    with pytest.raises(SparkError, match="replacecommit"):
        append_hudi_log(spark, df.filter(F.col("k") < 2), t, file_id="x")


def test_scratch_tables_of_two_processes_never_share_a_path():
    """Two processes asking ``_tmp_table`` for the same key and sf_dir
    get different paths (each under its own scratch directory, gone at
    exit), so one process's rebuild cannot delete the other's table."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from datafusion_catalogprovider_glue_spark.operators.meta_ops "
        "import _tmp_table, _scratch_root\n"
        "p = _tmp_table('meta_delta_history', '/sf')\n"
        "assert p == _tmp_table('meta_delta_history', '/sf')\n"
        "print(p, _scratch_root())\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code], cwd=repo, stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120)[0].split() for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    (path_a, root_a), (path_b, root_b) = outs
    assert path_a != path_b
    assert path_a.startswith(root_a + os.sep)
    assert path_b.startswith(root_b + os.sep)
    assert not os.path.exists(root_a) and not os.path.exists(root_b)
