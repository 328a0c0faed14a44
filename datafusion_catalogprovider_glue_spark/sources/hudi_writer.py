"""Minimal Apache Hudi WRITER: parquet base files + timeline commits
— the third leg of the write-path trio (sources/delta_writer.py,
sources/iceberg_writer.py), closing the round trip for every table
format the engine reads.

Scope: unpartitioned tables, four operations —

* ``append_hudi``  — INSERT: new file group(s) under a new instant.
* ``upsert_hudi``  — CoW UPSERT by record key: rewrites the file
  groups holding matched keys (whole-file rewrite, the CoW contract)
  and routes unmatched keys to a new file group, all under ONE
  instant.
* ``append_hudi_log`` — MoR DELTACOMMIT: appends an Avro log file to
  a file group (updates/inserts land in KB logs, base files untouched
  — Hudi's cheap write path, replayed by sources/hudi.py's
  read_hudi_mor).
* ``compact_hudi`` — MoR COMPACTION: merges each log-bearing file
  group into a fresh base file under a ``commit`` instant, after
  which read-optimized and snapshot queries converge.

Format notes (Hudi spec, https://hudi.apache.org/tech-specs/):
* the timeline is ``.hoodie/<instant>.commit`` JSON whose
  ``partitionToWriteStats`` lists (fileId, path) per written base
  file; an ``<instant>.commit.inflight`` marker precedes the commit
  (readers ignore it), and publishing the ``.commit`` file IS the
  atomic commit point (put-if-absent here, like the Delta writer).
  Base files are named by the instant too, and each is claimed
  put-if-absent BEFORE that point (parquet_stats.write_data_files): a
  writer that computed an instant another writer already committed
  fails on the first taken name, and the winner's base files stay.
* instants are monotonically increasing timestamps; this writer uses
  a deterministic 14-digit sequence (20240101000000 + k) rather than
  wall clock, per the repo's determinism convention.
* every base file carries the spec's per-row ``_hoodie_commit_time``
  meta column, which is what makes ROW-LEVEL incremental queries
  possible (rows carried unchanged through a rewrite keep their
  original commit time — sources/hudi.py filters on exactly this).

Scale shape: data writes are ordinary distributed parquet sinks; only
file listings and KB-sized timeline JSON touch the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import SparkError
from datafusion_catalogprovider_glue_spark.sources.object_store import (
    file_path_col,
)
from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    write_data_files,
)
from datafusion_catalogprovider_glue_spark.sources.hudi import (
    table_partition_field,
)

_BASE_INSTANT = 20240101000000


def _timeline_dir(location: str) -> str:
    d = os.path.join(location, ".hoodie")
    os.makedirs(d, exist_ok=True)
    return d


def _next_instant(location: str) -> str:
    # one timeline interleaves .commit, .deltacommit, .replacecommit
    # and .clean; the next instant must clear all of them (a reused
    # id would alias a data commit with a maintenance instant)
    tl = _timeline_dir(location)
    done = [
        int(f[: -len(suffix)])
        for f in os.listdir(tl)
        for suffix in (".commit", ".deltacommit", ".replacecommit",
                       ".clean")
        if f.endswith(suffix) and f[: -len(suffix)].isdigit()
    ]
    return str(max(done) + 1 if done else _BASE_INSTANT)


def _publish(
    location: str, instant: str, stats, action: str = "commit",
    table_type: str = "COPY_ON_WRITE", partition_field: str = None,
    extra: dict = None,
) -> None:
    """``stats`` is a flat list (unpartitioned: recorded under the
    spec's empty partition path) or a dict of partition path →
    stats list (hive-partitioned tables — the spec's
    partitionToWriteStats shape)."""
    tl = _timeline_dir(location)
    open(os.path.join(tl, f"{instant}.{action}.inflight"), "w").close()
    props = os.path.join(tl, "hoodie.properties")
    if not os.path.exists(props):
        with open(props, "w") as fh:
            fh.write("hoodie.table.name=%s\n" % os.path.basename(location))
            fh.write(f"hoodie.table.type={table_type}\n")
            if partition_field:
                fh.write(
                    f"hoodie.table.partition.fields={partition_field}\n"
                )
    by_part = stats if isinstance(stats, dict) else {"": stats}
    # HoodieWriteStat.numWrites: footer row count per written BASE
    # file (metadata-only; log files carry no parquet footer and
    # keep whatever the writer recorded).  The timeline metadata
    # query (sources/hudi.hudi_timeline_df) projects these.
    for stat_list in by_part.values():
        for st in stat_list:
            p = st.get("path")
            if "numWrites" not in st and p and p.endswith(".parquet"):
                import pyarrow.parquet as pq

                st["numWrites"] = int(
                    pq.ParquetFile(os.path.join(location, p)).metadata.num_rows
                )
    path = os.path.join(tl, f"{instant}.{action}")
    tmp = path + f".tmp.{os.getpid()}"
    payload = {"partitionToWriteStats": by_part}
    if extra:
        # replacecommits add the spec's partitionToReplaceFileIds
        payload.update(extra)
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    try:
        os.link(tmp, path)  # put-if-absent: one writer wins the instant
    except FileExistsError:
        raise SparkError(f"instant {instant} already committed") from None
    finally:
        os.unlink(tmp)


def _refuse_partitioned(location: str, op: str) -> None:
    pf = table_partition_field(location)
    if pf:
        raise SparkError(
            f"{op} subset: table is hive-partitioned on {pf!r} — "
            "MoR log operations support unpartitioned tables only"
        )


def _refuse_clustered(location: str, op: str) -> None:
    """MoR log ops on a CLUSTERED table are out of scope: their
    routing indexes key off .commit/.deltacommit metadata and would
    miss (or resurrect) replacecommit-managed groups — refuse loudly
    rather than corrupt (clustering itself refuses tables with
    pending logs, so the two features stay disjoint by construction)."""
    tl = os.path.join(location, ".hoodie")
    if os.path.isdir(tl) and any(
        f.endswith(".replacecommit") for f in os.listdir(tl)
    ):
        raise SparkError(
            f"{op} subset: table has replacecommits (clustering) — "
            "MoR log operations on clustered tables are not supported"
        )


def _base_file(ppath: str, file_id: str, instant: str) -> str:
    """The spec's ``<fileId>_<writeToken>_<instant>.parquet`` base
    file name, under its partition path ("" = unpartitioned)."""
    return os.path.join(ppath, f"{file_id}_0-0-0_{instant}.parquet")


def _write_base_files(df: DataFrame, location: str, instant: str,
                      group_of, layout: str = None,
                      one_per_group: bool = False) -> dict:
    """Write every base file of one instant in ONE distributed parquet
    write (laid out by the ``layout`` column when given) and return
    ``{ppath: [{"fileId", "path"}, ...]}`` ("" = unpartitioned) in
    the writer's sorted file order.  ``group_of(values, index)`` maps
    each written file to its ``(ppath, fileId)``; with
    ``one_per_group`` a layout value that produced a second file
    refuses, since a file group is ONE base file per instant (CoW)."""
    by_part: dict[str, list[dict]] = {}

    def _name(_rel: str, values: dict, i: int) -> str:
        ppath, fid = group_of(values, i)
        if one_per_group and i:
            raise SparkError(
                f"file-group write produced more than one file for "
                f"{fid!r} — a group must stay one base file"
            )
        path = _base_file(ppath, fid, instant)
        by_part.setdefault(ppath, []).append({"fileId": fid, "path": path})
        return path

    write_data_files(df, location, _name, [layout] if layout else ())
    return by_part


def _write_file_group(
    df: DataFrame, location: str, instant: str, file_id: str
) -> dict:
    """One file group = one base file per instant (CoW), stamped with
    the instant's ``_hoodie_commit_time``."""
    [stat] = _write_base_files(
        df.withColumn("_hoodie_commit_time", F.lit(instant)).coalesce(1),
        location, instant, lambda _values, _i: ("", file_id),
    )[""]
    return stat


def append_hudi(
    df: DataFrame, location: str, n_groups: int = 2,
    partition_by: str = None,
    extra_metadata: dict = None,
) -> str:
    """INSERT ``df`` as new file groups under a new instant.  With
    ``partition_by``, the table is HIVE-PARTITIONED: data lays out
    under ``<col>=<val>/`` directories in ONE distributed partitionBy
    job, the partition column STAYS in the data files (Hudi's
    default, unlike Delta's exclusion rule), commit stats key by
    partition path (the spec's partitionToWriteStats shape), and
    reads prune partition-level on those keys.  A later append must
    match the recorded partitioning.  Returns the committed
    instant.

    All ``n_groups`` file groups are written by ONE distributed job
    (rows hash-route to their group's staging partition, the driver
    only renames) — the previous one-job-per-group driver loop scanned
    the source once per group, which at 10^4 groups is 10^4 sequential
    jobs (guide §2.4: remove passes outright).  Row→group assignment
    (pmod(xxhash64(first col), n_groups)) is unchanged."""
    have = table_partition_field(location)
    want = partition_by
    if os.path.isdir(os.path.join(location, ".hoodie")) and have != want:
        raise SparkError(
            f"append partitioning {want!r} != table partitioning {have!r}"
        )
    instant = _next_instant(location)
    if partition_by:
        stats = _write_partitioned_file_groups(
            df, location, instant, partition_by
        )
        _publish(
            location, instant, stats, partition_field=partition_by,
            extra=_extra_meta(extra_metadata),
        )
        return instant
    fids = [f"fg-{instant}-{g}" for g in range(n_groups)]
    routed = (
        df.withColumn(
            "_g", F.pmod(F.xxhash64(*df.columns[:1]), F.lit(n_groups))
        )
        .withColumn("_hoodie_commit_time", F.lit(instant))
        .withColumn(
            "_dest",
            F.concat(F.lit(f"fg-{instant}-"), F.col("_g").cast("string"),
                     F.lit(_DEST_SEP)),
        )
        .drop("_g")
    )
    by_part = _write_dest_routed(
        df.sparkSession, routed, location, instant,
        expect_fids=fids,
        empty_schema_of=df,
    )
    _publish(
        location, instant, by_part.get("", []),
        extra=_extra_meta(extra_metadata),
    )
    return instant


def _extra_meta(extra_metadata: dict) -> dict:
    """Hudi's commit ``extraMetadata`` block (what DeltaStreamer
    stores its checkpoint under) — how an idempotent streaming writer
    records its last committed batch id IN the table."""
    return (
        {"extraMetadata": dict(extra_metadata)} if extra_metadata else None
    )


def _write_partitioned_file_groups(
    df: DataFrame, location: str, instant: str, partition_by: str
) -> dict:
    """ONE distributed partitionBy write lays every partition out, each
    part file becoming a file group in its ``<col>=<val>/`` directory.
    The layout key ``__hp`` duplicates the partition column's STRING
    form (so the column itself stays in the data files); NULL lands in
    the Hive sentinel directory."""

    def _group(values: dict, j: int) -> tuple[str, str]:
        raw = values["__hp"]
        raw = "__HIVE_DEFAULT_PARTITION__" if raw is None else raw
        return (f"{partition_by}={raw}",
                f"fg-{instant}-{_part_slug(raw)}-{j}")

    return _write_base_files(
        df.withColumn("__hp", F.col(partition_by).cast("string"))
        .withColumn("_hoodie_commit_time", F.lit(instant)),
        location, instant, _group, "__hp",
    )


def _part_slug(raw: str) -> str:
    import hashlib as _hashlib

    safe = "".join(c if c.isalnum() else "-" for c in raw)[:24]
    return f"{safe}-{_hashlib.md5(raw.encode()).hexdigest()[:6]}"


# staging-layout separator between file-group id and partition path in
# the routing column (Hive path escaping round-trips control chars)
_DEST_SEP = "\x1f"
_NEW_GROUP = "__new__"


def _write_dest_routed(
    spark: SparkSession,
    routed: DataFrame,
    location: str,
    instant: str,
    expect_fids: list[str] = None,
    empty_schema_of: DataFrame = None,
) -> dict[str, list[dict]]:
    """Write EVERY file group of a commit in ONE distributed job.

    ``routed`` carries a ``_dest`` column ``<fileId>\\x1f<ppath>``
    (``__new__`` as the fileId means "mint a new group for this
    partition").  Rows hash-route to their destination's partition
    (repartition by _dest: one task owns a destination wholesale, so
    each group stays exactly ONE base file), the staging layout is a
    ``partitionBy("_dest")`` directory tree, and the driver renames
    each part file into the spec's ``<fileId>_0-0-0_<instant>.parquet``
    name under its partition directory — metadata-only driver work.

    Replaces the previous one-Spark-job-per-file-group driver loop:
    at 10^4 file groups that is 10^4 sequential scans+writes; this is
    one shuffle + one write stage (guide §2.4/§2.6).

    ``expect_fids``: groups that must exist even when they receive no
    rows (the append contract records every minted group); missing
    ones are written as empty single-file groups.
    Returns ``{ppath: [{"fileId","path"}, ...]}`` ("" = unpartitioned).
    """

    def _group(values: dict, _i: int) -> tuple[str, str]:
        fid, _sep, ppath = values["_dest"].partition(_DEST_SEP)
        if fid == _NEW_GROUP:
            if ppath:
                # _dest was built as <fid>\x1f<col>=<raw>, and the
                # writer's unescape recovered raw verbatim
                fid = f"fg-{instant}-{_part_slug(ppath.split('=', 1)[1])}-0"
            else:
                fid = f"fg-{instant}-new"
        return ppath, fid

    by_part = _write_base_files(
        routed.repartition("_dest"), location, instant, _group, "_dest",
        one_per_group=True,
    )
    seen_fids = {st["fileId"] for sts in by_part.values() for st in sts}
    for fid in expect_fids or []:
        if fid in seen_fids:
            continue
        # a minted group that received no rows still publishes (the
        # append contract: n_groups groups exist) — schema-only file
        by_part.setdefault("", []).append(
            _write_file_group(
                empty_schema_of.filter(F.lit(False)),
                location, instant, fid,
            )
        )
    return by_part


def upsert_hudi(
    spark: SparkSession, df: DataFrame, location: str, key: str
) -> str:
    """UPSERT by ``key``: matched keys update in place (their file
    groups rewrite wholesale — the CoW contract), unmatched keys insert
    into one new file group, all under ONE instant.  Only the touched
    file groups rewrite; untouched groups keep their base files and
    their rows keep their original ``_hoodie_commit_time`` (the
    row-level incremental contract).

    Scale shape (optimization r10, guide §2.4): TWO Spark jobs total —
    one key-column pass over all live base files that validates the
    source (duplicate keys, the one-key-one-file-group invariant) AND
    resolves the touched groups, then one distributed rewrite that
    routes carried + updated + inserted rows to their destination file
    group and writes every group in a single ``partitionBy`` stage.
    The previous implementation looped file groups on the driver
    (probe-count + rewrite job per group, an extra anti-join per
    iteration in the insert lineage): at 10^4 groups that is 3x10^4
    sequential jobs; this is O(1) jobs regardless of group count."""
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        hudi_live_slices,
    )

    # the LIVE slices (replacecommits folded): routing against raw
    # .commit metadata would resurrect groups clustering retired and
    # miss the clustered ones — duplicate rows on the next snapshot
    live = hudi_live_slices(location)
    latest: dict[str, str] = {
        fid: rel for fid, (_pp, rel) in live.items()
    }
    instant = _next_instant(location)
    pf = table_partition_field(location)
    src = df.persist()
    base = None
    if latest:
        paths = {
            os.path.abspath(os.path.join(location, rel)): fid
            for fid, rel in latest.items()
        }
        # one scan of all live base files, file-group identity derived
        # from the file path (metadata column — no per-file read jobs)
        fg_map = F.create_map(
            *[F.lit(x) for p, fid in sorted(paths.items()) for x in (p, fid)]
        )
        base = (
            spark.read.parquet(*sorted(paths))
            .withColumn("_fg", fg_map[file_path_col(F.col("_metadata.file_path"))])
        )
    # ONE validation+routing job: source-duplicate gate, the
    # one-key-one-file-group invariant gate, and the touched-group set
    # come back together (each is metadata-sized)
    probe_parts = [
        src.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("v"))
        .select(F.lit("dup").alias("what"), F.col("v").cast("string"))
    ]
    if base is not None:
        km = base.select(F.col(key).alias("__k"), "_fg").join(
            src.select(F.col(key).alias("__k")), "__k", "inner"
        )
        probe_parts.append(
            km.groupBy("__k").agg(F.countDistinct("_fg").alias("n"))
            .agg(F.max("n").alias("v"))
            .select(F.lit("multi").alias("what"), F.col("v").cast("string"))
        )
        probe_parts.append(
            km.select("_fg").distinct()
            .select(F.lit("fg").alias("what"), F.col("_fg").alias("v"))
        )
    probe = probe_parts[0]
    for p in probe_parts[1:]:
        probe = probe.unionByName(p)
    touched: set[str] = set()
    for r in probe.collect():
        if r["what"] == "dup" and r["v"] is not None and int(r["v"]) > 1:
            raise SparkError("upsert source has duplicate record keys")
        if r["what"] == "multi" and r["v"] is not None and int(r["v"]) > 1:
            # Hudi invariant: a record key lives in exactly ONE file
            # group.  Two appends of the same key violate it; an upsert
            # of such a key would rewrite it into EVERY holding group,
            # duplicating the row — refuse loudly instead.
            raise SparkError(
                "upsert matches a record key present in more than one "
                "file group — the table violates Hudi's one-key-one-"
                "file-group invariant (duplicate inserts?); compact or "
                "dedupe before upserting"
            )
        if r["what"] == "fg":
            touched.add(r["v"])
    # destination routing: rewritten groups keep their fileId AND their
    # partition directory; inserts mint per-partition new groups
    pieces = []
    if touched:
        dest_of = {
            fid: f"{fid}{_DEST_SEP}{os.path.dirname(latest[fid])}"
            for fid in sorted(touched)
        }
        dest_map = F.create_map(
            *[F.lit(x) for fid in sorted(dest_of) for x in (fid, dest_of[fid])]
        )
        tb = base.filter(F.col("_fg").isin(sorted(touched)))
        # carried-over rows keep their ORIGINAL commit time; updated
        # rows get the new instant (row-level incremental semantics)
        carried = tb.join(src.select(key), key, "left_anti")
        updates = (
            # distinct: a key duplicated WITHIN one base file (legal
            # for append-created groups) must yield ONE update row —
            # the multi-group gate already pins one _fg per key
            src.join(base.select(key, "_fg").distinct(), key, "inner")
            .withColumn("_hoodie_commit_time", F.lit(instant))
        )
        pieces.append(
            carried.unionByName(updates)
            .withColumn("_dest", dest_map[F.col("_fg")])
            .drop("_fg")
        )
    inserts = (
        src.join(base.select(key), key, "left_anti") if base is not None
        else src
    ).withColumn("_hoodie_commit_time", F.lit(instant))
    if pf:
        insert_dest = F.concat(
            F.lit(_NEW_GROUP + _DEST_SEP + pf + "="),
            F.coalesce(
                F.col(pf).cast("string"),
                F.lit("__HIVE_DEFAULT_PARTITION__"),
            ),
        )
    else:
        insert_dest = F.lit(_NEW_GROUP + _DEST_SEP)
    pieces.append(inserts.withColumn("_dest", insert_dest))
    routed = pieces[0]
    for p in pieces[1:]:
        routed = routed.unionByName(p)
    by_part = _write_dest_routed(spark, routed, location, instant)
    if not by_part:
        raise SparkError("upsert source is empty — nothing to commit")
    _publish(location, instant, by_part, partition_field=pf)
    src.unpersist(blocking=False)
    return instant


# ---------------------------------------------------------------------------
# Merge-on-read (MOR) write path: log-appending deltacommits + compaction
# ---------------------------------------------------------------------------


def _write_log_file(
    df: DataFrame, location: str, file_id: str, instant: str
) -> dict:
    """Encode ``df`` as ONE Avro log file attached to ``file_id`` —
    EXECUTOR-side (one task runs the container encoder from
    sources/avro_fallback, the same distribution shape the MoR reader
    uses to decode); rows never pass through the driver.  A log append
    IS one small file by the MoR contract (compaction folds them into
    base files on a cadence)."""
    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        write_avro_container,
    )

    # spec-shaped log name: .<fileId>_<baseInstant>.log.<version>_<token>
    name = f".{file_id}_{instant}.log.1_0-0-0"
    full = os.path.join(location, name)
    schema = df.schema

    def _encode(it):
        write_avro_container(full, schema, (tuple(r) for r in it))
        yield 1

    df.coalesce(1).rdd.mapPartitions(_encode).count()
    return {"fileId": file_id, "path": name}


def _write_log_files_grouped(
    routed: DataFrame, location: str, groups: list[str], instant: str,
    dir_of: dict = None,
) -> list[dict]:
    """Write ONE Avro log per file group for ALL groups in a single
    distributed job: rows are routed by an exact partitioner (group →
    its own partition — no hash collisions, unlike repartition), and
    each partition's task encodes its group's container.  At 100 TB
    an upsert touching 10^4 groups is one shuffle + one write stage
    instead of 10^4 sequential driver-orchestrated jobs.  ``routed``
    must carry a non-null ``_fg`` column ∈ ``groups``."""
    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        write_avro_container,
    )

    data_cols = [c for c in routed.columns if c != "_fg"]
    schema = T.StructType(
        [f for f in routed.schema.fields if f.name != "_fg"]
    )
    idx = {fg: i for i, fg in enumerate(groups)}
    # logs live NEXT TO their group's base file — on partitioned
    # tables that is the group's partition directory
    dirs = dir_of or {}
    rels = [
        os.path.join(dirs.get(fg, ""), f".{fg}_{instant}.log.1_0-0-0")
        if dirs.get(fg)
        else f".{fg}_{instant}.log.1_0-0-0"
        for fg in groups
    ]
    for fg in groups:
        d = dirs.get(fg)
        if d:
            os.makedirs(os.path.join(location, d), exist_ok=True)

    kv = routed.rdd.map(
        lambda r: (idx[r["_fg"]], tuple(r[c] for c in data_cols))
    ).partitionBy(len(groups), lambda k: k)

    def _encode(pid, it):
        write_avro_container(
            os.path.join(location, rels[pid]),
            schema,
            (v for _k, v in it),
        )
        yield 1

    kv.mapPartitionsWithIndex(_encode).count()
    return [
        {"fileId": fg, "path": rels[idx[fg]]} for fg in groups
    ]


def append_hudi_log(
    spark: SparkSession, df: DataFrame, location: str, file_id: str
) -> str:
    """MoR DELTACOMMIT against ONE file group: append ``df`` as an
    Avro log attached to ``file_id`` — Hudi's cheap write path
    (updates land in KB logs; base files rewrite only at compaction).
    The CALLER owns key routing: every key in ``df`` must live in
    ``file_id``'s base file (or in no base file, for a log-only
    group) — the spec's slice-scoped log rule; use
    :func:`upsert_hudi_log` for index-routed writes.  Per-key
    latest-wins and non-null-overwrite merge semantics live in the
    reader (sources/hudi.py:read_hudi_mor).  Returns the committed
    instant."""
    _refuse_partitioned(location, "append_hudi_log")
    _refuse_clustered(location, "append_hudi_log")
    instant = _next_instant(location)
    stats = [_write_log_file(df, location, file_id, instant)]
    _publish(
        location, instant, stats,
        action="deltacommit", table_type="MERGE_ON_READ",
    )
    return instant


def upsert_hudi_log(
    spark: SparkSession, df: DataFrame, location: str, key: str,
    extra_metadata: dict = None,
) -> str:
    """MoR UPSERT as one DELTACOMMIT: routes each source row to the
    log of the file group HOLDING its key (Hudi's index-tagging step
    — logs are slice-scoped, so a cross-group log would duplicate
    rows at compaction), and unmatched keys to one log-only group;
    all log files publish under ONE instant.  Base files are never
    touched — that is the MoR write amplification win over
    upsert_hudi's CoW rewrite.  The routing join touches only the
    base files' KEY column (parquet column pruning); at 100 TB this
    is the record-index lookup every Hudi writer performs.  Refuses
    duplicate source keys and keys spanning multiple groups (same
    invariants as the CoW upsert).

    The routing index is the union of base-file keys AND live
    log-file keys (a key inserted via a log-only group between
    compactions must route back to THAT group, not spawn a second
    one — otherwise compaction would materialize duplicates); and
    the write is ONE distributed job (rows hash to an exact
    per-group partition; each partition encodes its group's log),
    so an upsert touching 10^4 groups at 100 TB is one shuffle, not
    10^4 driver-orchestrated jobs."""
    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        read_avro_fallback,
        schema_from_avro_file,
    )
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        _commit_files_action,
        hudi_mor_instants,
    )

    _refuse_clustered(location, "upsert_hudi_log")
    base_latest: dict[str, tuple[str, str]] = {}
    log_files: dict[str, list[tuple[str, str]]] = {}
    for t, action in hudi_mor_instants(location):
        if action == "commit":
            for file_id, rel in _commit_files_action(
                location, t, "commit"
            ).items():
                base_latest[file_id] = (t, rel)
        else:
            for file_id, rel in _commit_files_action(
                location, t, "deltacommit"
            ).items():
                log_files.setdefault(file_id, []).append((t, rel))
    src = df.persist()
    if src.groupBy(key).count().filter(F.col("count") > 1).limit(1).count():
        raise SparkError("upsert source has duplicate record keys")
    key_frames = [
        spark.read.parquet(os.path.join(location, rel)).select(
            F.col(key), F.lit(file_id).alias("_fg")
        )
        for file_id, (_t, rel) in sorted(base_latest.items())
    ]
    # live logs (instant newer than the group's base, or log-only
    # groups) hold keys NOT yet folded into any base file — they are
    # part of the record index; superseded logs (<= base instant) are
    # already reflected in the base keys and are skipped.
    for file_id, logs in sorted(log_files.items()):
        base_t = base_latest.get(file_id, ("",))[0]
        for t, rel in logs:
            if t > base_t:
                path = os.path.join(location, rel)
                key_frames.append(
                    read_avro_fallback(
                        spark, path, schema_from_avro_file(path)
                    ).select(F.col(key), F.lit(file_id).alias("_fg"))
                )
    instant = _next_instant(location)
    stats: list[dict] = []
    if key_frames:
        all_keys = key_frames[0]
        for kf in key_frames[1:]:
            all_keys = all_keys.unionByName(kf)
        # a key may appear in a group's base AND its live log (an
        # in-flight update) — dedupe so the routing join stays 1:1
        all_keys = all_keys.distinct()
        routed = src.join(all_keys, key, "left").persist()
        if (
            routed.groupBy(key)
            .agg(F.countDistinct("_fg").alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        ):
            raise SparkError(
                "upsert matches a record key present in more than one "
                "file group — the table violates Hudi's one-key-one-"
                "file-group invariant"
            )
    else:
        routed = src.withColumn("_fg", F.lit(None).cast("string")).persist()
    # ONE metadata job: the per-group presence map (replaces the old
    # per-group filter jobs + the separate inserts-nonempty probe).
    # On PARTITIONED tables, unmatched keys group per partition value
    # (a log-only group lives in its partition directory); the
    # distinct collect also carries the insert rows' partition value,
    # so no extra job runs.
    pf = table_partition_field(location)
    pv_expr = (
        F.when(
            F.col("_fg").isNull(),
            F.coalesce(
                F.col(pf).cast("string"),
                F.lit("__HIVE_DEFAULT_PARTITION__"),
            ),
        )
        if pf
        else F.lit(None).cast("string")
    )
    present = [
        (r["_fg"], r["_pv"])
        for r in routed.withColumn("_pv", pv_expr)
        .select("_fg", "_pv")
        .distinct()
        .collect()
    ]
    groups = sorted({g for g, _pv in present if g is not None})
    # every group's log lands next to its base (or earlier log)
    dir_of = {
        fid: os.path.dirname(rel)
        for fid, (_t, rel) in base_latest.items()
    }
    for fid, logs in log_files.items():
        dir_of.setdefault(fid, os.path.dirname(logs[0][1]))
    insert_pvs = sorted({pv for g, pv in present if g is None and pv is not None})
    has_plain_inserts = any(g is None for g, _pv in present)
    if has_plain_inserts and not pf:
        fg = f"fg-{instant}-new"
        groups.append(fg)
        dir_of[fg] = ""
        routed = routed.withColumn(
            "_fg", F.coalesce(F.col("_fg"), F.lit(fg))
        )
    elif insert_pvs:
        ins_rows = []
        for v in insert_pvs:
            fg = f"fg-{instant}-new-{_part_slug(v)}"
            groups.append(fg)
            dir_of[fg] = f"{pf}={v}"
            ins_rows.append((v, fg))
        ins_map = spark.createDataFrame(ins_rows, "_pv string, _newfg string")
        routed = (
            routed.withColumn(
                "_pv",
                F.coalesce(
                    F.col(pf).cast("string"),
                    F.lit("__HIVE_DEFAULT_PARTITION__"),
                ),
            )
            .join(F.broadcast(ins_map), "_pv", "left")
            .withColumn("_fg", F.coalesce(F.col("_fg"), F.col("_newfg")))
            .drop("_pv", "_newfg")
        )
    if not groups:
        raise SparkError("upsert source is empty — nothing to commit")
    stats = _write_log_files_grouped(
        routed, location, groups, instant, dir_of=dir_of
    )
    by_part: dict[str, list[dict]] = {}
    for s in stats:
        by_part.setdefault(os.path.dirname(s["path"]), []).append(s)
    _publish(
        location, instant, by_part,
        action="deltacommit", table_type="MERGE_ON_READ",
        partition_field=pf, extra=_extra_meta(extra_metadata),
    )
    src.unpersist(blocking=False)
    return instant


def compact_hudi(spark: SparkSession, location: str, key: str) -> str:
    """MoR COMPACTION: for every file group with live log files, merge
    base + logs (per ``key`` latest-log-wins, non-null columns
    overwrite — the same OverwriteNonDefaultsWithLatest shape the
    snapshot reader applies) and rewrite the group's base file under a
    new ``commit`` instant with the SAME fileId.  Log-only groups
    materialize their first base file.  After the commit, earlier logs
    are superseded by the file-slice rule (log instant <= base instant
    never re-applies), so read-optimized and snapshot queries converge
    — the invariant tests/test_hudi.py pins.  Untouched groups keep
    their base files byte-for-byte.  Returns the compaction instant."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        read_avro_fallback,
        schema_from_avro_file,
    )
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        _commit_files_action,
        hudi_mor_instants,
    )

    base_latest: dict[str, tuple[str, str]] = {}
    log_files: dict[str, list[tuple[str, str]]] = {}
    for t, action in hudi_mor_instants(location):
        if action == "commit":
            for file_id, rel in _commit_files_action(
                location, t, "commit"
            ).items():
                base_latest[file_id] = (t, rel)
        else:
            for file_id, rel in _commit_files_action(
                location, t, "deltacommit"
            ).items():
                log_files.setdefault(file_id, []).append((t, rel))
    instant = _next_instant(location)
    # one pass over the timeline picks the groups with LIVE logs; the
    # whole compaction then runs as ONE distributed job — logs union
    # (tagged by group), one (group, key) window, one full join
    # against the union of touched bases, one partitionBy-the-group
    # write (all rows of a group land in one task → exactly one base
    # file per group) — instead of one driver-orchestrated job per
    # group, which at 10^4 groups is 10^4 sequential jobs (the same
    # restructure as upsert_hudi_log's grouped log write).
    work: list[tuple[str, list[tuple[str, str]]]] = []
    for file_id in sorted(set(base_latest) | set(log_files)):
        base_t = base_latest.get(file_id, ("", None))[0]
        live = [
            (t, rel)
            for t, rel in log_files.get(file_id, [])
            if t > base_t
        ]
        if live:
            work.append((file_id, sorted(live)))
    if not work:
        raise SparkError("nothing to compact: no file group has live logs")
    logs = None
    for file_id, live in work:
        for t, rel in live:
            path = os.path.join(location, rel)
            part = (
                read_avro_fallback(spark, path, schema_from_avro_file(path))
                .withColumn("_log_t", F.lit(t))
                .withColumn("_fg", F.lit(file_id))
            )
            logs = (
                part
                if logs is None
                else logs.unionByName(part, allowMissingColumns=True)
            )
    w = Window.partitionBy("_fg", key).orderBy(F.col("_log_t").desc())
    latest = (
        logs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    bases = None
    for file_id, _live in work:
        if file_id in base_latest:
            b = spark.read.parquet(
                os.path.join(location, base_latest[file_id][1])
            ).withColumn("_fg", F.lit(file_id))
            bases = (
                b
                if bases is None
                else bases.unionByName(b, allowMissingColumns=True)
            )
    if bases is None:
        merged = latest.drop("_log_t")  # every group is log-only
    else:
        upd_cols = [
            c for c in latest.columns if c not in (key, "_log_t", "_fg")
        ]
        renamed = latest.select(
            F.col("_fg"),
            F.col(key),
            F.col("_log_t"),
            *[F.col(c).alias(f"_u_{c}") for c in upd_cols],
        )
        merged = bases.join(renamed, ["_fg", key], "full")
        for c in upd_cols:
            merged = merged.withColumn(
                c,
                F.coalesce(F.col(f"_u_{c}"), F.col(c))
                if c in bases.columns
                else F.col(f"_u_{c}"),
            )
        # records updated/inserted by a log carry the LOG's commit
        # time; carried base rows keep theirs (row-level incremental
        # semantics survive compaction)
        if "_hoodie_commit_time" in bases.columns:
            merged = merged.withColumn(
                "_hoodie_commit_time",
                F.coalesce(F.col("_log_t"), F.col("_hoodie_commit_time")),
            )
        merged = merged.drop("_log_t", *[f"_u_{c}" for c in upd_cols])
    # each group's new base file lands in ITS directory (the
    # partition dir on hive-partitioned tables — from the old base's
    # path, or the logs' for log-only groups); stats key by partition
    # path per the spec
    ppath_of = {
        file_id: os.path.dirname(
            base_latest[file_id][1] if file_id in base_latest
            else live[0][1]
        )
        for file_id, live in work
    }
    by_part = _write_base_files(
        merged.repartition(F.col("_fg")), location, instant,
        lambda values, _i: (ppath_of[values["_fg"]], values["_fg"]),
        "_fg", one_per_group=True,
    )
    _publish(
        location, instant, by_part, action="commit",
        table_type="MERGE_ON_READ",
        partition_field=table_partition_field(location),
    )
    return instant


def cluster_hudi(
    spark: SparkSession, location: str, sort_col: str, n_groups: int = 2
) -> str:
    """CLUSTERING (Hudi's clustering table service, committed as the
    spec's REPLACECOMMIT): rewrite every live file group into
    ``n_groups`` new groups RANGE-SORTED on ``sort_col``, so point /
    range queries on that column prune by parquet footer stats — the
    layout rewrite Hudi schedules to fix small-file + scatter problems
    without blocking writers.

    Semantics the spec requires, pinned in tests/test_meta_tables.py:

    * rows keep their ORIGINAL ``_hoodie_commit_time`` (clustering is
      a layout change, not a data change — row-level incremental
      consumers must not re-see clustered rows), which is why this
      writes the snapshot's rows verbatim instead of re-stamping;
    * the commit's ``partitionToReplaceFileIds`` lists every replaced
      group; snapshot reads from this instant on use only the new
      groups, while time travel BEFORE it still resolves the old ones
      (the old base files stay on disk);
    * ONE distributed job writes all groups (repartitionByRange lays
      out the ranges; part files rename to file-group names in range
      order) — no per-group driver loop at 10⁴ groups.

    Scope: CoW tables without pending MoR logs (a MoR clustering must
    first fold logs — that is compaction's job).  Returns the
    committed instant."""
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        read_hudi,
    )

    _refuse_partitioned(location, "cluster_hudi")
    tl = _timeline_dir(location)
    if any(f.endswith(".deltacommit") for f in os.listdir(tl)):
        raise SparkError(
            "cluster_hudi subset: table has MoR delta logs — run "
            "compact_hudi first (clustering does not fold logs)"
        )
    snapshot = read_hudi(spark, location)  # includes _hoodie_commit_time
    # every live group is replaced
    replaced = sorted(
        {
            fid
            for t in _live_instants(location)
            for fid in _commit_file_ids(location, t)
        }
    )
    instant = _next_instant(location)
    by_part = _write_base_files(
        snapshot.repartitionByRange(n_groups, sort_col)
        .sortWithinPartitions(sort_col),
        location, instant,
        lambda _values, i: ("", f"fg-cluster-{instant}-{i}"),
    )
    _publish(
        location, instant, by_part.get("", []), action="replacecommit",
        extra={"partitionToReplaceFileIds": {"": replaced}},
    )
    return instant


def _live_instants(location: str) -> list[str]:
    """Completed instants that can still contribute live file groups
    (commit + replacecommit), ascending."""
    tl = _timeline_dir(location)
    return sorted(
        f.rsplit(".", 1)[0]
        for f in os.listdir(tl)
        if f.endswith((".commit", ".replacecommit"))
    )


def _commit_file_ids(location: str, instant: str) -> list[str]:
    for suffix in ("commit", "replacecommit"):
        p = os.path.join(_timeline_dir(location), f"{instant}.{suffix}")
        if os.path.exists(p):
            with open(p) as fh:
                meta = json.load(fh)
            return [
                st["fileId"]
                for stats in meta.get("partitionToWriteStats", {}).values()
                for st in stats
            ]
    return []


def clean_hudi_file_slices(
    location: str, keep_last_n: int = 1
) -> list[str]:
    """Hudi CLEANER (tech-specs §cleaner, KEEP_LATEST_FILE_VERSIONS
    policy — the maintenance action that reclaims superseded file
    slices the way Delta VACUUM / Iceberg expire+orphan-cleanup do;
    r10, the trio's last maintenance asymmetry): per file group, keep
    the newest ``keep_last_n`` base-file versions, DELETE the older
    ones, and record the action as a ``{instant}.clean`` metadata
    file listing every reclaimed path — the registry readers consult
    to refuse time travel into cleaned history LOUDLY instead of
    failing with an opaque missing-file scan error.

    The LIVE slice of every group always survives (keep_last_n >= 1
    enforced).  CoW only: MoR log files belong to their slice and go
    through compaction first (refused).  Metadata-sized driver work;
    the deletes are per-file unlinks exactly like Delta's vacuum."""
    if keep_last_n < 1:
        raise SparkError(
            f"keep_last_n={keep_last_n}: the live file version of "
            "every group must survive cleaning"
        )
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        _load_instant_meta,
        _timeline,
    )

    tl_dir = _timeline_dir(location)
    if any(f.endswith(".deltacommit") for f in os.listdir(tl_dir)):
        raise SparkError(
            "cleaning a MERGE-ON-READ table: log files belong to "
            "their slice — compact first (compact_hudi)"
        )
    # full slice HISTORY per file group, ascending commit order
    history: dict[str, list[tuple[str, str]]] = {}
    for instant, action in _timeline(
        location, ("commit", "replacecommit")
    ):
        meta = _load_instant_meta(location, instant, action)
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                history.setdefault(st["fileId"], []).append(
                    (instant, st["path"])
                )
    cleaned: list[dict] = []
    for fid, slices in history.items():
        for instant, rel in slices[: max(0, len(slices) - keep_last_n)]:
            full = os.path.join(location, rel)
            if os.path.exists(full):
                os.remove(full)
                cleaned.append(
                    {"fileId": fid, "path": rel, "instant": instant}
                )
    if not cleaned:
        return []
    clean_instant = _next_instant(location)
    doc = {
        "policy": "KEEP_LATEST_FILE_VERSIONS",
        "retained": keep_last_n,
        "cleaned": sorted(cleaned, key=lambda c: (c["fileId"], c["instant"])),
    }
    out = os.path.join(tl_dir, f"{clean_instant}.clean")
    tmp = out + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(doc, fh, sort_keys=True)
    os.rename(tmp, out)
    return [c["path"] for c in doc["cleaned"]]


def archive_hudi_timeline(location: str, keep_last_n: int = 2) -> list[str]:
    """TIMELINE ARCHIVAL (Hudi tech-specs §timeline): move completed
    instants older than the newest ``keep_last_n`` out of the active
    ``.hoodie/`` directory into an Avro container under
    ``.hoodie/archived/`` — what real Hudi's HoodieTimelineArchiver
    does on a cadence so the active timeline stays KB-sized over a
    table's lifetime.  The archive record carries (instant, action,
    commit-metadata JSON), so every reader in sources/hudi.py resolves
    archived instants through the active-then-archived fallback:
    snapshots stay hash-identical, time travel to an archived instant
    still works, and incremental pulls whose range reaches archived
    instants still serve (real Hudi refuses those; keeping the full
    metadata lets this engine serve them instead, a documented
    superset).  Inflight markers of archived instants are deleted
    (they are crash debris once the instant completed).

    Archive files are append-only and sequence-numbered
    (``commits_.archive.N.avro``) — readers cache on the (name, size)
    signature, which only grows.  Returns the archived instants.
    """
    if keep_last_n < 1:
        raise SparkError(
            f"keep_last_n must be >= 1 (the newest instant anchors "
            f"_next_instant), got {keep_last_n}"
        )
    from pyspark.sql import types as T

    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        write_avro_container,
    )

    tl = _timeline_dir(location)
    completed = sorted(
        (stem, ext.lstrip("."))
        for stem, ext in (os.path.splitext(f) for f in os.listdir(tl))
        if ext.lstrip(".") in ("commit", "deltacommit", "replacecommit")
    )
    to_archive = completed[:-keep_last_n]
    if not to_archive:
        return []
    records = []
    for instant, action in to_archive:
        with open(os.path.join(tl, f"{instant}.{action}")) as fh:
            meta = json.load(fh)
        records.append((instant, action, json.dumps(meta, sort_keys=True)))
    adir = os.path.join(tl, "archived")
    os.makedirs(adir, exist_ok=True)
    seq = 1 + sum(1 for f in os.listdir(adir) if f.endswith(".avro"))
    schema = T.StructType(
        [
            T.StructField("instant", T.StringType()),
            T.StructField("action", T.StringType()),
            T.StructField("metadata", T.StringType()),
        ]
    )
    path = os.path.join(adir, f"commits_.archive.{seq}.avro")
    tmp = path + f".tmp.{os.getpid()}"
    write_avro_container(tmp, schema, records)
    os.rename(tmp, path)  # publish-then-delete: readers never see a gap
    for instant, action in to_archive:
        os.remove(os.path.join(tl, f"{instant}.{action}"))
        marker = os.path.join(tl, f"{instant}.{action}.inflight")
        if os.path.exists(marker):
            os.remove(marker)
    return [t for t, _a in to_archive]
