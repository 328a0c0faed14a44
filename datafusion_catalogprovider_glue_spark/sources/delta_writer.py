"""Minimal Delta Lake WRITER: parquet data files + JSON commits.

The reverse of sources/delta.py — closes the round trip so the engine
can be both a consumer AND a producer of Delta tables (the reference
reads Delta via the deltalake crate, glue.rs delta dispatch; writing is
an extension).  Scope: append commits, a compaction (OPTIMIZE-style
rewrite: remove + add with dataChange=false), copy-on-write MERGE
(merge_delta), DELETION-VECTOR MERGE (merge_delta_dv — point
updates/deletes without rewriting data files), and checkpoint writing
(checkpoint_delta — r7: DV descriptors and hive partitions
checkpoint too).  MERGE/compaction compose with single-column hive
partitioning as of r7.  Column-mapping (name mode) table CREATION and
appends land in r7b (``append_delta(column_mapping=True)`` — physical
file names, logical schemaString metadata, (2,5) protocol); merges and
compaction on column-mapped tables refuse loudly.

Format notes (public Delta protocol):
* ``schemaString`` is Spark's ``StructType.json()`` — Delta adopted
  Spark's schema JSON verbatim, so no translation layer exists here.
* each commit ``N`` is ``_delta_log/{N:020d}.json`` of newline-JSON
  actions; version 0 carries ``protocol`` + ``metaData`` first.
* data files live under the table root with ``add.path`` RELATIVE;
  this writer puts each commit's files in a ``commit-N/`` subdir.  Two
  writers that both expect version N share that directory, so the
  files are claimed put-if-absent under Spark's job-unique names
  (parquet_stats.write_data_files): the loser's files never replace
  the winner's, its ``_commit`` of N fails, and they stay unreferenced
  until ``vacuum_delta``.

Determinism: the table id derives from the table path (md5), file
lists are sorted, and JSON keys are emitted in a fixed order — two
runs over the same input produce byte-identical logs except for
modificationTime (which no reader hashes).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame

from datafusion_catalogprovider_glue_spark.errors import DeltaError
from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    ConcurrentWriteError,
    footer_stats,
    write_data_files,
)

_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
# columnMapping requires the (2, 5) protocol per PROTOCOL.md
_CM_PROTOCOL = {"minReaderVersion": 2, "minWriterVersion": 5}


def _log_dir(table_path: str) -> str:
    d = os.path.join(table_path, "_delta_log")
    os.makedirs(d, exist_ok=True)
    return d


def _next_version(log_dir: str) -> int:
    vs = [
        int(f[:-5])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-5].isdigit()
    ]
    # a checkpoint supersedes the JSON commits ≤ its version, and the
    # spec allows deleting them — the next version must clear the
    # checkpoint too, or a post-cleanup append would restart at 0 and
    # silently shadow the table
    ckpt = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(ckpt):
        with open(ckpt) as fh:
            vs.append(int(json.load(fh)["version"]))
    return max(vs) + 1 if vs else 0


def _file_stats(path: str) -> str:
    """The protocol's per-add ``stats`` JSON string: numRecords plus
    per-column minValues/maxValues/nullCount from the shared footer
    fold (sources/parquet_stats.py — metadata-only, no data pages).
    These are what ``read_delta``'s stats_filter prunes on: at 100 TB
    a point lookup on a sorted/z-ordered column skips every
    non-matching file from the LOG alone, without even opening the
    parquet footers at read time."""
    n, stats = footer_stats(path)
    return json.dumps(
        {
            "numRecords": n,
            "minValues": {c: s[0] for c, s in stats.items()},
            "maxValues": {c: s[1] for c, s in stats.items()},
            "nullCount": {c: s[2] for c, s in stats.items()},
        },
        sort_keys=True,
    )


def _commit_info(operation: str) -> dict:
    """The protocol's ``commitInfo`` action (PROTOCOL.md §commit
    provenance): best-effort commit metadata every real writer
    emits — DESCRIBE HISTORY is a projection of these.  Readers that
    don't know the action ignore it (ours does, delta.py
    _apply_action's elif chain)."""
    return {
        "commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": operation,
            "engineInfo": "datafusion-catalogprovider-glue-spark",
        }
    }


def _metadata_action(
    df: DataFrame, table_path: str, partition_columns: list[str] = ()
) -> dict:
    return {
        "metaData": {
            "id": hashlib.md5(table_path.encode()).hexdigest(),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": list(partition_columns),
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }
    }


def _write_data_files(df: DataFrame, table_path: str, version: int,
                      partition_columns: list[str],
                      n_files: int) -> list[dict]:
    """Write the DataFrame as the data files of commit ``version``
    under ``commit-<version>/`` and return one ``add`` action per
    file.  With a partition column the table is HIVE-PARTITIONED per
    the Delta protocol: the files EXCLUDE the column (the reader
    re-attaches it from ``add.partitionValues``), whose values are
    recorded in the protocol's string form (None for NULL)."""
    adds = []
    for rel, values in write_data_files(
        df, table_path, lambda rel, _values, _i: f"commit-{version}/{rel}",
        partition_columns, n_files,
    ):
        full = os.path.join(table_path, rel)
        adds.append(
            {
                "path": rel,
                "partitionValues": values,
                "size": os.path.getsize(full),
                "modificationTime": int(os.path.getmtime(full) * 1000),
                "dataChange": True,
                # stats is a JSON *string* per the protocol
                "stats": _file_stats(full),
            }
        )
    return adds


_ICT_BASE_MS = 1700000000000  # deterministic seq-derived timestamps


def _prev_ict(log_dir: str, version: int):
    """inCommitTimestamp of commit version-1, or None when the table
    has not enabled ICT (PROTOCOL.md §In-Commit Timestamps: once
    enabled every later commit must carry one, so the previous
    commit's presence/absence IS the enablement state — one KB read,
    no log replay)."""
    if version == 0:
        return None
    prev = os.path.join(log_dir, f"{version - 1:020d}.json")
    if not os.path.exists(prev):
        return None  # cleaned-up prefix: ICT chain not resumable here
    with open(prev) as fh:
        for line in fh:
            if not line.strip():
                continue
            action = json.loads(line)
            ci = action.get("commitInfo")
            if ci and "inCommitTimestamp" in ci:
                return int(ci["inCommitTimestamp"])
    return None


def _commit(log_dir: str, version: int, actions: list[dict]) -> None:
    # ICT stamping (spec: monotonically increasing, recorded in
    # commitInfo which must be the FIRST action of the commit):
    # deterministic seq-derived value clamped strictly above the
    # previous commit's — every writer path funnels through here, so
    # enabling the feature once keeps the whole chain stamped
    prev_ts = _prev_ict(log_dir, version)
    if prev_ts is not None:
        ict = max(_ICT_BASE_MS + version * 1000, prev_ts + 1)
        stamped = []
        saw_ci = False
        for a in actions:
            if a.get("commitInfo") and not saw_ci:
                saw_ci = True
                stamped.append(
                    {
                        "commitInfo": {
                            **a["commitInfo"],
                            "inCommitTimestamp": ict,
                        }
                    }
                )
            else:
                stamped.append(a)
        if not saw_ci:
            stamped.insert(
                0,
                {
                    "commitInfo": {
                        "operation": "WRITE",
                        "inCommitTimestamp": ict,
                    }
                },
            )
        actions = stamped
    path = os.path.join(log_dir, f"{version:020d}.json")
    tmp = path + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, sort_keys=True) + "\n")
    try:
        # PUT-IF-ABSENT publish (os.link fails on an existing target,
        # unlike os.rename which silently overwrites): the Delta commit
        # contract — exactly one writer wins version N, the loser gets
        # a ConcurrentWriteError instead of clobbering the winner's log
        os.link(tmp, path)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {version} already committed at {path}"
        ) from None
    finally:
        os.unlink(tmp)


def _physical_name(logical: str) -> str:
    """Deterministic physical column name for columnMapping name mode
    (real writers mint UUIDs; the repo's determinism convention derives
    from the logical name — stable for this writer's scope, which
    refuses renames)."""
    return f"col-{hashlib.md5(logical.encode()).hexdigest()[:16]}"


def _cm_schema_json(schema) -> str:
    """Spark schema JSON with the protocol's columnMapping field
    metadata (delta.columnMapping.id / .physicalName) attached."""
    d = json.loads(schema.json())
    for i, f in enumerate(d["fields"], start=1):
        f["metadata"] = {
            **(f.get("metadata") or {}),
            "delta.columnMapping.id": i,
            "delta.columnMapping.physicalName": _physical_name(f["name"]),
        }
    return json.dumps(d)


def _generated_of(schema) -> dict[str, str]:
    """logical column → generation expression from the schema's
    ``delta.generationExpression`` field metadata (the protocol's
    generated-columns feature)."""
    return {
        f.name: (f.metadata or {})["delta.generationExpression"]
        for f in schema.fields
        if (f.metadata or {}).get("delta.generationExpression")
    }


def _apply_generated(df: DataFrame, schema, where: str) -> DataFrame:
    """Enforce the protocol's generated-column writer contract on one
    batch: a generated column ABSENT from the batch is COMPUTED from
    its expression; one PRESENT must MATCH the expression on every row
    (null-safe), else the whole commit refuses.  Cost ∝ batch."""
    from pyspark.sql import functions as F

    gen = _generated_of(schema)
    if not gen:
        return df
    types = {f.name: f.dataType for f in schema.fields}
    for name, expr in sorted(gen.items()):
        col = F.expr(expr).cast(types[name])
        if name not in df.columns:
            df = df.withColumn(name, col)
        else:
            bad = df.filter(~F.col(name).eqNullSafe(col)).limit(1).collect()
            if bad:
                raise ValueError(
                    f"generated column {name!r} (= {expr}) does not "
                    f"match the provided values in {where}: "
                    f"{bad[0].asDict()}"
                )
    # keep the table's column order
    return df.select(*[f.name for f in schema.fields])


def _gen_schema_json(schema, generated: dict[str, str]) -> str:
    d = json.loads(schema.json())
    for f in d["fields"]:
        if f["name"] in generated:
            f["metadata"] = {
                **(f.get("metadata") or {}),
                "delta.generationExpression": generated[f["name"]],
            }
    return json.dumps(d)


def append_delta(
    df: DataFrame,
    table_path: str,
    n_files: int = 2,
    partition_by: str = None,
    merge_schema: bool = False,
    column_mapping: bool = False,
    generated: dict = None,
    txn: tuple = None,
) -> int:
    """Append ``df`` to the Delta table at ``table_path`` (creating it
    with the schema's metaData action on version 0).  With
    ``partition_by``, the table is HIVE-PARTITIONED per protocol:
    metaData records the partition column, data files exclude it, and
    each add carries its ``partitionValues`` — which is what
    ``read_delta``'s ``partition_filter`` prunes on file-level without
    opening anything.  A later append must match the table's recorded
    partitioning AND schema — with ``merge_schema`` (Delta's
    mergeSchema option), a pure column-ADDING superset instead
    commits an updated metaData action alongside the adds (schema
    evolution; earlier files read the new columns as null through the
    by-name parquet scan).

    ``column_mapping=True`` CREATES the table under the protocol's
    columnMapping **name mode** (reader/writer features real current
    writers default to): the metaData schema carries per-field
    ``delta.columnMapping.id`` / ``.physicalName`` metadata, the
    protocol action advertises (2, 5), and data files are written
    under the PHYSICAL names — later appends detect the mode from the
    table and rename automatically.  Subset: no partitioning and no
    merge/compact on column-mapped tables (those paths refuse loudly);
    reads, time travel, and history compose.  Returns the committed
    version."""
    log_dir = _log_dir(table_path)
    version = _next_version(log_dir)
    part_cols = [partition_by] if partition_by else []
    evolved_meta = None
    if version > 0:
        from datafusion_catalogprovider_glue_spark.sources.delta import (
            DeltaSnapshot,
        )

        snap = DeltaSnapshot(table_path)
        # generated columns: compute-if-absent / validate-if-present,
        # BEFORE the schema checks (an omitted generated column is the
        # normal write shape, not a schema drop)
        df = _apply_generated(df, snap.schema, "the append batch")
        have = snap.partition_columns
        if have != part_cols:
            raise ValueError(
                f"append partitioning {part_cols} != table partitioning "
                f"{have}"
            )
        have_types = {f.name: f.dataType for f in snap.schema.fields}
        new_types = {f.name: f.dataType for f in df.schema.fields}
        changed = [
            n for n in have_types
            if n in new_types and new_types[n] != have_types[n]
        ]
        if changed:
            raise ValueError(
                f"append schema changes column types for {changed} — "
                "not supported"
            )
        missing = [n for n in have_types if n not in new_types]
        added = [n for n in new_types if n not in have_types]
        if missing:
            raise ValueError(
                f"append schema drops table columns {missing}"
            )
        _check_constraints(snap.configuration, df, "the append batch")
        if added:
            if not merge_schema:
                raise ValueError(
                    f"append schema adds columns {added}; pass "
                    "merge_schema=True to evolve the table schema"
                )
            if snap.column_mapping:
                raise ValueError(
                    "append subset: mergeSchema on a column-mapped "
                    "table is not supported"
                )
            evolved_meta = _metadata_action(df, table_path, have)
            # carry the table's configuration through the evolution
            evolved_meta["metaData"]["configuration"] = dict(
                snap.configuration
            )
        if snap.column_mapping_mode == "name":
            # the table dictates the mode: rename to the metaData's
            # physical names before the write
            from pyspark.sql import functions as F

            phys_of = {
                f.name: (f.metadata or {})[
                    "delta.columnMapping.physicalName"
                ]
                for f in snap.schema.fields
            }
            df = df.select(
                *[F.col(n).alias(phys_of[n]) for n in
                  [f.name for f in snap.schema.fields]]
            )
        elif snap.column_mapping:
            raise ValueError(
                "append subset: columnMapping.mode="
                f"{snap.column_mapping_mode!r} tables are read-only here"
            )
    if version == 0 and generated:
        if column_mapping:
            raise ValueError(
                "append subset: generated columns with column_mapping "
                "is not supported"
            )
        from pyspark.sql import functions as F

        types = {f.name: f.dataType for f in df.schema.fields}
        for name, expr in sorted(generated.items()):
            col = F.expr(expr)
            if name not in df.columns:
                df = df.withColumn(name, col)
            else:
                bad = df.filter(
                    ~F.col(name).eqNullSafe(col.cast(types[name]))
                ).limit(1).collect()
                if bad:
                    raise ValueError(
                        f"generated column {name!r} (= {expr}) does not "
                        f"match the provided values: {bad[0].asDict()}"
                    )
    logical_schema = df.schema
    if version == 0 and column_mapping:
        if partition_by:
            raise ValueError(
                "append subset: column_mapping with partitioning is "
                "not supported"
            )
        from pyspark.sql import functions as F

        df = df.select(
            *[F.col(f.name).alias(_physical_name(f.name))
              for f in df.schema.fields]
        )
    adds = _write_data_files(df, table_path, version, part_cols, n_files)
    actions: list[dict] = [_commit_info("WRITE")]
    if version == 0:
        actions.append(
            {"protocol": _CM_PROTOCOL if column_mapping else _PROTOCOL}
        )
        meta_action = _metadata_action(df, table_path, part_cols)
        if generated:
            meta_action["metaData"]["schemaString"] = _gen_schema_json(
                logical_schema, generated
            )
        if column_mapping:
            # schemaString keeps the LOGICAL names + mapping metadata;
            # the physical rename above only affects the data files
            meta_action["metaData"]["schemaString"] = _cm_schema_json(
                logical_schema
            )
            meta_action["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": str(
                    len(df.schema.fields)
                ),
            }
        actions.append(meta_action)
    elif evolved_meta is not None:
        actions.append(evolved_meta)
    actions.extend({"add": a} for a in adds)
    if txn is not None:
        actions.append(_txn_action(txn))
    _commit(log_dir, version, actions)
    return version


def _txn_action(txn: tuple) -> dict:
    """The spec's ``txn`` action (PROTOCOL.md §Transaction
    Identifiers): (appId, version) — how idempotent streaming writers
    make foreachBatch exactly-once (skip batches whose version is
    already recorded; Delta's own streaming sink does exactly this)."""
    app_id, version = txn
    return {"txn": {"appId": str(app_id), "version": int(version)}}


def compact_delta(spark, table_path: str) -> int:
    """OPTIMIZE-style compaction: rewrite every live data file into one
    file, committing remove+add with ``dataChange: false`` (readers see
    the identical logical table before and after — the property the
    round-trip oracle checks)."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
        _live_rows,
    )

    snap = DeltaSnapshot(table_path)
    if snap.column_mapping:
        raise ValueError(
            "compact_delta subset: column-mapped tables not supported"
        )
    if len(snap.partition_columns) > 1:
        raise ValueError(
            "compact_delta subset: at most one partition column"
        )
    version = _next_version(_log_dir(table_path))
    old_rel = sorted(snap._active)
    # logical snapshot: partition columns re-attached, existing DVs
    # APPLIED (a compaction folds deletion vectors away — the rewritten
    # files carry no masked rows, so the sidecars retire with the adds)
    df = _live_rows(spark, snap)
    adds = _write_data_files(
        df, table_path, version, snap.partition_columns, 1
    )
    now = int(time.time() * 1000)
    actions = [_commit_info("OPTIMIZE")]
    actions.extend(
        {
            "remove": {
                "path": p,
                "deletionTimestamp": now,
                "dataChange": False,
            }
        }
        for p in old_rel
    )
    for a in adds:
        a["dataChange"] = False
        actions.append({"add": a})
    _commit(_log_dir(table_path), version, actions)
    return version


def optimize_delta_zorder(
    spark, table_path: str, cols: list[str], n_files: int = 8,
    bits: int = 16,
) -> int:
    """OPTIMIZE ... ZORDER BY (c1, c2): a compaction rewrite that lays
    the table out along the MORTON CURVE of two columns, so both gain
    file-level min/max locality at once — after it, a point or range
    probe on EITHER column prunes through the log's data-skipping
    stats (delta-spark's multi-column clustering primitive; a plain
    sort can only serve one column).  The interleave is pure JVM
    bitwise codegen; the rewrite is repartitionByRange + in-partition
    sort on the z value — one range shuffle, the same cost class as
    the plain compaction.  Commits remove+add with ``dataChange:
    false`` like OPTIMIZE: readers see the identical logical table
    and incremental consumers must not re-see the rows.

    Each column is first MIN/MAX-SCALED to the full ``bits``-bit
    range — without it a column with a wider value domain dominates
    every high interleave bit and the narrow column gets no locality
    at all (the classic z-order pitfall; delta-spark uses range-bucket
    ids for the same reason).  The scaling bounds come from one
    2-value-per-column aggregate.  DVs fold away like compact_delta
    (the rewritten files carry no masked rows); NULL z-order column
    values refuse (order them explicitly first)."""
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
        _live_rows,
    )

    if len(cols) != 2:
        raise ValueError("optimize_delta_zorder subset: exactly two columns")
    snap = DeltaSnapshot(table_path)
    if snap.column_mapping:
        raise ValueError("optimize_delta_zorder: column-mapped tables "
                         "not supported")
    if snap.partition_columns:
        raise ValueError("optimize_delta_zorder subset: unpartitioned "
                         "tables only (z-order within partitions TBD)")
    version = _next_version(_log_dir(table_path))
    old_rel = sorted(snap._active)
    df = _live_rows(spark, snap)
    bounds = df.agg(
        *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(cols)],
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"_n{i}")
            for i, c in enumerate(cols)
        ],
    ).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for i, name in enumerate(cols):
        if bounds[f"_n{i}"]:
            raise ValueError(f"z-order column {name!r} has NULLs")
        lo, hi = float(bounds[f"_lo{i}"]), float(bounds[f"_hi{i}"])
        span = (hi - lo) or 1.0
        scaled.append(
            F.floor(
                (F.col(name).cast("double") - F.lit(lo))
                * F.lit(float(top))
                / F.lit(span)
            ).cast("long")
        )
    a, b = scaled
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i + 1,
            )
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i,
            )
        )
    laid_out = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    adds = _write_data_files(laid_out, table_path, version, [], n_files)
    now = int(time.time() * 1000)
    actions = [_commit_info("OPTIMIZE ZORDER")]
    actions.extend(
        {
            "remove": {
                "path": p,
                "deletionTimestamp": now,
                "dataChange": False,
            }
        }
        for p in old_rel
    )
    for add in adds:
        add["dataChange"] = False
        actions.append({"add": add})
    _commit(_log_dir(table_path), version, actions)
    return version


def merge_delta(
    spark,
    table_path: str,
    source: DataFrame,
    on: list[str],
    matched_delete=None,
    matched_update=None,
    expected_version: int = None,
    txn: tuple = None,
) -> int:
    """Batch MERGE INTO the Delta table at ``table_path`` — the keyed
    upsert every incremental pipeline materializes with:

    * WHEN MATCHED AND <matched_delete> THEN DELETE  (optional Column
      over the TARGET pre-image)
    * WHEN MATCHED [AND <matched_update>] THEN UPDATE SET *  (source
      row wins; with ``matched_update`` — a Column over the t./s.
      pre-images — a matched row updates ONLY when the condition
      holds, else the target row is kept: the "merge if newer" shape
      streaming upserts need to stay order-independent)
    * WHEN NOT MATCHED THEN INSERT *

    Compiled to ONE full-outer join on the key columns over the current
    snapshot + a copy-on-write commit (remove every previous file, add
    the rewritten state, dataChange=true).  A full rewrite is the
    simple-and-correct subset — file-pruned rewrites (touch only files
    with matches) are the production refinement; the COMMIT shape is
    identical either way.  Spark's MERGE contract is enforced: a source
    with duplicate keys is refused (a target row must match at most one
    source row, or the update is ambiguous).

    Concurrency: the merge validates against ``expected_version`` (the
    snapshot version it read, defaulting to the current one) and
    publishes version+1 put-if-absent; a racing writer that committed
    first surfaces as ConcurrentWriteError, never a lost update.  Its
    data and change files are claimed put-if-absent under job-unique
    names beside the winner's, so losing the race deletes or replaces
    none of the winner's files; the loser's stay unreferenced.
    """
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
        _live_rows,
    )

    snap = DeltaSnapshot(table_path)
    if expected_version is not None and snap.version != expected_version:
        raise ConcurrentWriteError(
            f"table moved to version {snap.version}; merge read "
            f"{expected_version} — re-read and retry"
        )
    if snap.column_mapping:
        raise ValueError(
            "merge_delta subset: column-mapped tables not supported"
        )
    if len(snap.partition_columns) > 1:
        raise ValueError(
            "merge_delta subset: at most one partition column"
        )
    version = snap.version + 1
    # logical snapshot with partition columns re-attached and existing
    # DVs applied — a CoW merge over a DV-bearing or hive-partitioned
    # table starts from the TRUE logical table
    target = _live_rows(spark, snap)
    cols = [f.name for f in snap.schema.fields]
    missing = [c for c in cols if c not in source.columns]
    if missing:
        raise ValueError(
            f"merge source lacks table columns {missing} "
            f"(source: {sorted(source.columns)})"
        )
    # EXTRA source columns are allowed and never land in the table:
    # they exist so matched_delete/matched_update conditions can
    # reference them — the CDC-apply shape (an _op / _change_type
    # column riding along the change rows) every table_changes
    # consumer uses
    # CHECK constraints and generated columns gate the rows actually
    # WRITTEN, not the raw source: a CDC tombstone whose only effect
    # is a matched DELETE may legally carry null/placeholder payload
    # columns (Delta validates constraints on write, and a deleted row
    # is never written) — so validation runs on the merged output,
    # after the delete clause, before any file lands (see below)
    # MERGE ambiguity rule: at most one source row per key
    dups = (
        source.groupBy(*on).agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).limit(1).count()
    )
    if dups:
        raise ValueError(
            "merge source has duplicate keys — a target row may match "
            "at most one source row"
        )
    # explicit side markers (not key isNotNull()): the join is
    # null-safe, so a NULL merge key is legal — a NULL-keyed source row
    # must still take the matched/insert branch, which key-null tests
    # would silently misroute
    t = target.withColumn("__tgt", F.lit(True)).alias("t")
    s = source.withColumn("__src", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on]
    joined = t.join(s, cond, "full_outer")
    matched = F.col("t.__tgt").isNotNull() & F.col("s.__src").isNotNull()
    keep = F.lit(True)
    if matched_delete is not None:
        keep = ~(matched & matched_delete)
    take_source = F.col("s.__src").isNotNull()
    if matched_update is not None:
        # a matched row takes the source only when the update condition
        # holds; inserts (no target) always take the source
        take_source = take_source & (
            F.col("t.__tgt").isNull() | matched_update
        )
    merged = joined.filter(keep).select(
        *[
            F.when(take_source, F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}")).alias(c)
            for c in cols
        ]
    )
    # atomic refusal BEFORE any file writes: constraints over the
    # merged output (delete-clause rows already excluded; surviving
    # target rows satisfy by induction and re-pass trivially)
    _check_constraints(snap.configuration, merged, "the merge result")
    gen_types = {f.name: f.dataType for f in snap.schema.fields}
    for gname, gexpr in sorted(_generated_of(snap.schema).items()):
        bad = merged.filter(
            ~F.col(gname).eqNullSafe(F.expr(gexpr).cast(gen_types[gname]))
        ).limit(1).collect()
        if bad:
            raise ValueError(
                f"generated column {gname!r} (= {gexpr}) does not match "
                f"the merge result: {bad[0].asDict()}"
            )
    adds = _write_data_files(
        merged, table_path, version, snap.partition_columns, 2
    )
    # CHANGE DATA FEED (PROTOCOL.md §Change Data Files): with
    # delta.enableChangeDataFeed on, the merge also writes row-level
    # change files under _change_data/ — delete pre-images, update
    # pre+post images, inserts — and the commit carries `cdc` actions.
    # Readers then represent this commit ONLY by these files: a CoW
    # rewrite stops surfacing every untouched row as delete+insert,
    # and updates gain the pre/post fidelity file-level derivation
    # cannot express.  Change volume, not table volume, is what lands.
    cdc_actions: list[dict] = []
    if (snap.configuration or {}).get(
        "delta.enableChangeDataFeed", ""
    ).lower() == "true":
        sel_t = [F.col(f"t.{c}").alias(c) for c in cols]
        sel_s = [F.col(f"s.{c}").alias(c) for c in cols]
        upd = matched
        if matched_delete is not None:
            upd = upd & ~matched_delete
        if matched_update is not None:
            upd = upd & matched_update
        chunks = []
        if matched_delete is not None:
            chunks.append(
                joined.filter(matched & matched_delete)
                .select(*sel_t)
                .withColumn("_change_type", F.lit("delete"))
            )
        chunks.append(
            joined.filter(upd).select(*sel_t)
            .withColumn("_change_type", F.lit("update_preimage"))
        )
        chunks.append(
            joined.filter(upd).select(*sel_s)
            .withColumn("_change_type", F.lit("update_postimage"))
        )
        chunks.append(
            joined.filter(F.col("t.__tgt").isNull()).select(*sel_s)
            .withColumn("_change_type", F.lit("insert"))
        )
        changes = chunks[0]
        for ch in chunks[1:]:
            changes = changes.unionByName(ch)
        for rel, _values in write_data_files(
            changes, table_path,
            lambda rel, _values, _i: f"_change_data/cdc-{version}/{rel}",
            n_files=1,
        ):
            cdc_actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(table_path, rel)),
                        "dataChange": False,
                    }
                }
            )
    now = int(time.time() * 1000)
    actions = [_commit_info("MERGE")]
    actions.extend(cdc_actions)
    actions.extend(
        {
            "remove": {
                "path": p,
                "deletionTimestamp": now,
                "dataChange": True,
            }
        }
        for p in sorted(snap._active)
    )
    actions.extend({"add": a} for a in adds)
    if txn is not None:
        actions.append(_txn_action(txn))
    _commit(_log_dir(table_path), version, actions)
    return version


def checkpoint_delta(spark, table_path: str) -> int:
    """Write a CHECKPOINT for the table's current version — the spec's
    compaction of the JSON log into one parquet file
    (``{v:020d}.checkpoint.parquet`` + the ``_last_checkpoint``
    pointer), letting readers skip replaying every commit (this
    engine's own reader consumes exactly this layout, and real Delta
    writers emit one every 10 commits).  After a checkpoint, commits
    ≤ v are no longer needed for latest-snapshot reads — the spec's
    log-cleanup precondition.

    r7: DELETION VECTORS and HIVE PARTITIONS checkpoint too — each
    add row carries its descriptor struct and partitionValues map, so
    a post-checkpoint snapshot read reconstructs the exact masked /
    partitioned state (a checkpoint that silently dropped a DV would
    resurrect deleted rows — pinned in tests/test_round7_fixes.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )

    snap, rows, schema = _checkpoint_payload(table_path)
    log_dir = _log_dir(table_path)
    version = snap.version
    ckpt = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), ckpt)
    _write_last_checkpoint(log_dir, {"version": version, "size": len(rows)})
    return version


def _checkpoint_base_fields():
    """pyarrow fields shared by every checkpoint layout (classic
    single/multi-part parts and V2 top-level/sidecar files)."""
    import pyarrow as pa

    return [
        pa.field(
            "protocol",
            pa.struct(
                [
                    ("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32()),
                    # present only on (3,7) table-features protocols;
                    # null lists for legacy protocols, per PROTOCOL.md
                    ("readerFeatures", pa.list_(pa.string())),
                    ("writerFeatures", pa.list_(pa.string())),
                ]
            ),
        ),
        pa.field(
            "metaData",
            pa.struct(
                [
                    ("id", pa.string()),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    ("configuration", pa.map_(pa.string(), pa.string())),
                ]
            ),
        ),
        pa.field(
            "txn",
            pa.struct(
                [
                    ("appId", pa.string()),
                    ("version", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "add",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("partitionValues", pa.map_(pa.string(), pa.string())),
                    ("size", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("dataChange", pa.bool_()),
                    (
                        "deletionVector",
                        pa.struct(
                            [
                                ("storageType", pa.string()),
                                ("pathOrInlineDv", pa.string()),
                                ("offset", pa.int32()),
                                ("sizeInBytes", pa.int32()),
                                ("cardinality", pa.int64()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]


def _checkpoint_payload(table_path: str):
    """Resolve the live snapshot and build the spec-complete action
    rows every checkpoint layout shares: one protocol row, one
    metaData row, one add row per active file (size/modificationTime/
    partitionValues stat'd live, DV descriptors carried through)."""
    import pyarrow as pa

    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )

    snap = DeltaSnapshot(table_path)
    meta = {
        "id": hashlib.md5(table_path.encode()).hexdigest(),
        "schemaString": snap.schema.json(),
        "partitionColumns": list(snap.partition_columns),
        "configuration": dict(snap.configuration),
    }
    # carry the table's REAL protocol through (the checkpoint may be
    # the only protocol record once pre-checkpoint commits are
    # vacuumed); refusing beats silently downgrading a (2,5)/(3,7)
    # table to the writer's own (1,2)
    if snap.protocol is None:
        raise DeltaError(
            f"no protocol action replayed for {table_path!r}; refusing "
            "to checkpoint a snapshot without a protocol record"
        )
    proto = {
        "minReaderVersion": int(snap.protocol.get("minReaderVersion") or 1),
        "minWriterVersion": int(snap.protocol.get("minWriterVersion") or 2),
        "readerFeatures": snap.protocol.get("readerFeatures"),
        "writerFeatures": snap.protocol.get("writerFeatures"),
    }
    rows = [
        {"protocol": proto, "metaData": None, "add": None},
        {"protocol": None, "metaData": meta, "add": None},
    ]
    # latest txn per appId (PROTOCOL.md: checkpoints must preserve
    # transaction identifiers, or an idempotent streaming writer
    # re-applies batches after log cleanup)
    for app_id in sorted(snap.txns):
        rows.append(
            {"txn": {"appId": app_id, "version": snap.txns[app_id]}}
        )
    for p in sorted(snap._active):
        full = os.path.join(table_path, p)
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": {
                    "path": p,
                    "partitionValues": dict(snap._active[p]),
                    "size": os.path.getsize(full),
                    "modificationTime": int(os.path.getmtime(full) * 1000),
                    "dataChange": False,
                    "deletionVector": snap._dvs.get(p),
                },
            }
        )
    return snap, rows, pa.schema(_checkpoint_base_fields())


def compact_delta_log(spark, table_path: str, start: int, end: int) -> str:
    """LOG COMPACTION (delta-io PROTOCOL.md §Log Compaction): write
    ``{start}.{end}.compacted.json`` holding the RECONCILED actions of
    commits ``start..end`` — the state log replay would produce over
    exactly that range: the latest protocol / metaData seen in-range,
    the latest ``txn`` per appId, and per file path the latest add OR
    remove (a remove tombstone survives so replay from an earlier base
    still retires the file; an in-range add superseded by a remove is
    dropped).  delta-spark emits these so readers can replay one file
    instead of N commits, then deletes the commits inside the range
    during metadata cleanup; sources/delta.py resolves them on replay.

    Every commit in the range must still exist (compaction reconciles
    commits, it cannot invent them).  Returns the written path.
    Metadata-sized driver work by design, like checkpointing."""
    if not (0 <= start <= end):
        raise DeltaError(f"invalid compaction range [{start}, {end}]")
    log_dir = _log_dir(table_path)
    latest: dict[str, dict] = {}  # action kind → latest action
    files: dict[str, tuple[str, dict]] = {}  # path → (kind, action)
    txns: dict[str, dict] = {}
    for v in range(start, end + 1):
        p = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(p):
            raise DeltaError(
                f"cannot compact [{start}, {end}] at {table_path!r}: "
                f"commit {v} is missing"
            )
        with open(p) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if action.get("protocol"):
                    latest["protocol"] = action["protocol"]
                elif action.get("metaData"):
                    latest["metaData"] = action["metaData"]
                elif action.get("txn"):
                    txns[action["txn"].get("appId", "")] = action["txn"]
                elif action.get("add"):
                    files[action["add"]["path"]] = ("add", action["add"])
                elif action.get("remove"):
                    files[action["remove"]["path"]] = (
                        "remove", action["remove"],
                    )
                # commitInfo is informational and not reconciled
    out = os.path.join(
        log_dir, f"{start:020d}.{end:020d}.compacted.json"
    )
    tmp = out + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        for kind in ("protocol", "metaData"):
            if kind in latest:
                fh.write(json.dumps({kind: latest[kind]}) + "\n")
        for app_id in sorted(txns):
            fh.write(json.dumps({"txn": txns[app_id]}) + "\n")
        for path in sorted(files):
            kind, action = files[path]
            fh.write(json.dumps({kind: action}) + "\n")
    os.rename(tmp, out)  # atomic publish, like every log artifact here
    return out


def _write_last_checkpoint(log_dir: str, pointer_doc: dict) -> None:
    pointer = os.path.join(log_dir, "_last_checkpoint")
    tmp = pointer + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(pointer_doc, fh)
    os.rename(tmp, pointer)  # pointer update is last (readers fall back)


def checkpoint_delta_multipart(spark, table_path: str, parts: int = 2) -> int:
    """Write a classic MULTI-PART checkpoint
    (``{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet``, delta-io
    PROTOCOL.md §Checkpoints) — the layout delta-spark emits once the
    snapshot outgrows one file.  Part 1 carries protocol+metaData and
    the add rows are split round-robin; the reader unions all n parts
    and refuses an incomplete set.  The ``_last_checkpoint`` pointer
    records ``parts`` as the spec describes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if parts < 1:
        raise DeltaError(f"parts must be >= 1, got {parts}")
    snap, rows, schema = _checkpoint_payload(table_path)
    log_dir = _log_dir(table_path)
    version = snap.version
    header = [r for r in rows if r.get("add") is None]
    adds = [r for r in rows if r.get("add") is not None]
    buckets = [list(header) if i == 0 else [] for i in range(parts)]
    for j, row in enumerate(adds):
        buckets[j % parts].append(row)
    for i, bucket in enumerate(buckets, start=1):
        name = f"{version:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
        pq.write_table(
            pa.Table.from_pylist(bucket, schema=schema),
            os.path.join(log_dir, name),
        )
    _write_last_checkpoint(
        log_dir, {"version": version, "size": len(rows), "parts": parts}
    )
    return version


def checkpoint_delta_v2(spark, table_path: str, sidecars: int = 2) -> int:
    """Write a V2 checkpoint (delta-io PROTOCOL.md §V2 Checkpoints):
    one UUID-named top-level file
    (``{v:020d}.checkpoint.{uuid}.parquet``) holding
    checkpointMetadata + protocol + metaData plus ``sidecar`` actions,
    with the add rows split across ``_delta_log/_sidecars/*.parquet``
    files.  This is what recent delta-spark/delta-kernel writers emit
    for large tables; the engine's reader follows the sidecar
    references and refuses a missing sidecar."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if sidecars < 1:
        raise DeltaError(f"sidecars must be >= 1, got {sidecars}")
    snap, rows, _ = _checkpoint_payload(table_path)
    log_dir = _log_dir(table_path)
    version = snap.version
    sc_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    header = [r for r in rows if r.get("add") is None]
    adds = [r for r in rows if r.get("add") is not None]
    top_id = _uuid.uuid5(_uuid.NAMESPACE_URL, f"{table_path}@{version}")
    add_field = [f for f in _checkpoint_base_fields() if f.name == "add"]
    sc_schema = pa.schema(add_field)
    sc_rows = []
    buckets = [[] for _ in range(sidecars)]
    for j, row in enumerate(adds):
        buckets[j % sidecars].append({"add": row["add"]})
    for i, bucket in enumerate(buckets, start=1):
        rel = f"{top_id}-{i:04d}.parquet"
        sc_path = os.path.join(sc_dir, rel)
        pq.write_table(pa.Table.from_pylist(bucket, schema=sc_schema), sc_path)
        sc_rows.append(
            {
                "sidecar": {
                    "path": rel,
                    "sizeInBytes": os.path.getsize(sc_path),
                    "modificationTime": int(
                        os.path.getmtime(sc_path) * 1000
                    ),
                }
            }
        )
    top_schema = pa.schema(
        [
            pa.field(
                "checkpointMetadata",
                pa.struct([("version", pa.int64())]),
            ),
            *_checkpoint_base_fields()[:3],  # protocol, metaData, txn
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                        ("modificationTime", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    top_rows = [{"checkpointMetadata": {"version": version}}]
    for row in header:
        top_rows.append(
            {
                "protocol": row.get("protocol"),
                "metaData": row.get("metaData"),
                "txn": row.get("txn"),
            }
        )
    top_rows.extend(sc_rows)
    top_name = f"{version:020d}.checkpoint.{top_id}.parquet"
    pq.write_table(
        pa.Table.from_pylist(top_rows, schema=top_schema),
        os.path.join(log_dir, top_name),
    )
    _write_last_checkpoint(
        log_dir,
        {"version": version, "size": len(rows) + 1 + len(sc_rows)},
    )
    return version


def merge_delta_dv(
    spark,
    table_path: str,
    source,
    on: list[str],
    matched_delete=None,
    expected_version: int = None,
) -> int:
    """Batch MERGE INTO that emits DELETION VECTORS instead of
    rewriting files — how production Delta avoids write amplification
    on point updates/deletes (PROTOCOL.md §Deletion Vectors; codec in
    sources/dv.py):

    * every MATCHED target pre-image is masked by a DV on its own data
      file (update pre-images and delete-clause rows alike) — the data
      file itself is NEVER rewritten, its bytes stay identical;
    * updated + inserted rows land in ONE new data file;
    * the commit re-adds each touched file with its (merged) DV
      descriptor — an add replaces file metadata wholesale per
      protocol, which the engine's own reader (sources/delta.py)
      already honors — plus the new file's add.

    Contrast with :func:`merge_delta` (copy-on-write): a 1-row update
    there rewrites the whole table; here it writes one KB-sized DV
    sidecar and a 1-row file.  Scale shape: EXISTING DVs are decoded
    executor-side (the reader's `delta._dv_rows`) and the
    new per-file sidecars are ENCODED executor-side too (one
    applyInPandas group per touched file) — the driver only ever
    collects one descriptor row per touched FILE, never a row-index
    set ∝ the table's accumulated deletes.  Tables that already
    carry DVs merge them (row-index union).  Partitioned (hive,
    single-column) and unpartitioned tables are both supported —
    touched files re-add with their ORIGINAL partitionValues, new
    rows land hive-partitioned; column mapping is not.  Returns the
    committed version."""
    import json as _json

    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
        _dv_rows,
        _live_rows,
    )
    from datafusion_catalogprovider_glue_spark.sources.dv import (
        write_dv_file,
    )

    snap = DeltaSnapshot(table_path)
    if expected_version is not None and snap.version != expected_version:
        raise ConcurrentWriteError(
            f"table moved to version {snap.version}; merge read "
            f"{expected_version} — re-read and retry"
        )
    if snap.column_mapping:
        raise ValueError(
            "merge_delta_dv subset: column-mapped tables not supported"
        )
    if len(snap.partition_columns) > 1:
        raise ValueError(
            "merge_delta_dv subset: at most one partition column"
        )
    version = snap.version + 1
    cols = [f.name for f in snap.schema.fields]
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != table "
            f"columns {sorted(cols)}"
        )
    # ONE source pass gates duplicate keys AND returns the source row
    # count (keys are unique after the gate, so downstream emptiness
    # checks become arithmetic instead of extra limit-count jobs —
    # optimization r10, guide §1.2/§2.4: fewer passes)
    probe = source.groupBy(*on).agg(F.count(F.lit(1)).alias("n")).agg(
        F.max("n").alias("mx"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
    ).first()
    if probe["mx"] is not None and probe["mx"] > 1:
        raise ValueError(
            "merge source has duplicate keys — a target row may match "
            "at most one source row"
        )
    n_src = int(probe["total"])
    # target scan retaining (file, row_index) identity, partition
    # columns re-attached, EXISTING DVs applied (executor-decoded) so
    # already-deleted rows can never rematch.  The matched projection
    # is persisted and materialized ONCE — the previous shape
    # recomputed the target-scan join for the write's anti-join and
    # again for the DV-encode pass (two extra full table scans).
    t = _live_rows(spark, snap, identity=True).alias("t")
    s = source.withColumn("__src", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on]
    flag = (
        F.lit(False) if matched_delete is None
        else matched_delete.cast("boolean")
    )
    matched_small = t.join(s, cond, "inner").select(
        F.col("t._file").alias("_file"),
        F.col("t._pos").alias("_pos"),
        *[F.col(f"s.{k}").alias(k) for k in on],
        flag.alias("_drop"),
    ).persist()
    # all matched pre-images leave their files (updates re-emit from
    # the source; delete-clause rows just vanish)
    removed = matched_small.select("_file", "_pos")
    if matched_delete is not None:
        drop_keys = matched_small.filter(F.col("_drop")).select(*on).distinct()
        anti_cond = [
            source[k].eqNullSafe(drop_keys[k]) for k in on
        ]
        new_rows = source.join(drop_keys, anti_cond, "left_anti")
    else:
        new_rows = source
    # CHECK constraints and generated columns gate the rows actually
    # WRITTEN (delete-clause tombstones, which only mask pre-images,
    # are exempt — merge_delta's rule), and the refusal is atomic:
    # nothing has landed yet, no DV files, no data files
    _check_constraints(snap.configuration, new_rows, "the merge result")
    gen_types = {f.name: f.dataType for f in snap.schema.fields}
    for gname, gexpr in sorted(_generated_of(snap.schema).items()):
        bad = new_rows.filter(
            ~F.col(gname).eqNullSafe(F.expr(gexpr).cast(gen_types[gname]))
        ).limit(1).collect()
        if bad:
            raise ValueError(
                f"generated column {gname!r} (= {gexpr}) does not match "
                f"the merge result: {bad[0].asDict()}"
            )
    adds_new = []
    if n_src > 0:
        # write unconditionally; emptiness (everything matched the
        # delete clause) is detected from the written footers' row
        # counts — no probe-count job re-running the matched join
        adds_new = _write_data_files(
            new_rows.select(*cols), table_path, version,
            snap.partition_columns, 1,
        )
        kept = []
        for a in adds_new:
            if json.loads(a["stats"])["numRecords"] > 0:
                kept.append(a)
            else:
                full = os.path.join(table_path, a["path"])
                os.unlink(full)
                try:  # only an empty directory: others' files stay
                    os.rmdir(os.path.dirname(full))
                except OSError:
                    pass
        adds_new = kept
    # union the new masks with each touched file's EXISTING DV rows
    # (untouched files keep their old descriptors); then encode one
    # sidecar per file WHERE THE GROUP'S TASK RUNS — only the
    # (file, descriptor) rows come back to the driver
    masked = removed
    if snap._dvs:
        carried = _dv_rows(
            spark, snap, [(p, dv, None) for p, dv in snap._dvs.items()]
        ).join(F.broadcast(removed.select("_file").distinct()), "_file", "semi")
        masked = masked.unionByName(carried)

    def _encode_group(pdf):
        import pandas as pd

        fpath = pdf["_file"].iloc[0]
        rows = sorted({int(x) for x in pdf["_pos"]})
        desc = write_dv_file(table_path, rows)
        return pd.DataFrame(
            {"_file": [fpath], "_desc": [_json.dumps(desc)]}
        )

    descs = (
        masked.groupBy("_file")
        .applyInPandas(_encode_group, "_file string, _desc string")
        .collect()
    )
    matched_small.unpersist(blocking=False)
    abs_to_rel = {
        os.path.abspath(os.path.join(table_path, p)): p
        for p in snap._active
    }
    actions: list[dict] = []
    for r in sorted(descs, key=lambda r: r["_file"]):
        rel = abs_to_rel[r["_file"]]
        full = os.path.join(table_path, rel)
        add = {
            "path": rel,
            "partitionValues": dict(snap._active[rel]),
            "size": os.path.getsize(full),
            "modificationTime": int(os.path.getmtime(full) * 1000),
            "dataChange": True,
            "deletionVector": _json.loads(r["_desc"]),
        }
        # carry the file's recorded stats through the DV rewrite (the
        # file's physical rows — what min/max describe — are
        # unchanged; dropping stats would permanently disable
        # stats_filter skipping for every DV-touched file)
        prior_stats = snap._stats.get(rel)
        if prior_stats is not None:
            add["stats"] = json.dumps(prior_stats, sort_keys=True)
        actions.append({"add": add})
    actions.extend({"add": a} for a in adds_new)
    if not actions:
        raise ValueError("empty merge: source matched nothing and adds nothing")
    actions.insert(0, _commit_info("MERGE"))
    _commit(_log_dir(table_path), version, actions)
    return version


def restore_delta(spark, table_path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — a NEW commit whose actions
    rewrite the CURRENT state back to ``version``'s file set (adds for
    files the target had and the head lost — with their original
    partitionValues and DV descriptors — removes for files the head
    gained; dataChange=true).  History is preserved: the restore is
    one more commit, so time travel still reaches every intermediate
    version — exactly Delta's RESTORE semantics, and the standard
    recovery from a bad merge.  Returns the committed version."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )

    target = DeltaSnapshot(table_path, version=version)
    head = DeltaSnapshot(table_path)
    new_version = head.version + 1
    actions: list[dict] = [_commit_info("RESTORE")]
    now = int(time.time() * 1000)
    for p in sorted(set(head._active) - set(target._active)):
        actions.append(
            {"remove": {"path": p, "deletionTimestamp": now,
                        "dataChange": True}}
        )
    for p in sorted(target._active):
        # re-add everything the target referenced: an add replaces file
        # metadata wholesale, which also RESETS a DV that grew after
        # the target version (restoring masked rows)
        full = os.path.join(table_path, p)
        if not os.path.exists(full):
            raise ValueError(
                f"cannot restore to version {version}: data file {p!r} "
                "was vacuumed"
            )
        add = {
            "path": p,
            "partitionValues": dict(target._active[p]),
            "size": os.path.getsize(full),
            "modificationTime": int(os.path.getmtime(full) * 1000),
            "dataChange": True,
            "stats": _file_stats(full),
        }
        dv = target._dvs.get(p)
        if dv:
            add["deletionVector"] = dv
        actions.append({"add": add})
    _commit(_log_dir(table_path), new_version, actions)
    return new_version


def vacuum_delta(spark, table_path: str) -> list[str]:
    """VACUUM: physically delete every data file and DV sidecar under
    the table that the LATEST snapshot no longer references — the
    storage-reclaim step after compaction / CoW merges (this
    simplified retention window is "latest only"; production Delta
    parameterizes by age).  After a vacuum, time travel to versions
    that referenced the removed files fails loudly at scan time — the
    documented trade VACUUM makes.  Returns the deleted paths
    (relative), sorted."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )
    from datafusion_catalogprovider_glue_spark.sources.dv import (
        dv_absolute_path,
    )

    snap = DeltaSnapshot(table_path)
    keep = {os.path.abspath(os.path.join(table_path, p)) for p in snap._active}
    for dv in snap._dvs.values():
        keep.add(os.path.abspath(dv_absolute_path(table_path, dv)))
    deleted = []
    for root, dirs, names in os.walk(table_path):
        if "_delta_log" in dirs:
            dirs.remove("_delta_log")
        for n in names:
            if not (n.endswith(".parquet") or n.startswith("deletion_vector_")):
                continue  # never touch _SUCCESS markers etc.
            full = os.path.abspath(os.path.join(root, n))
            if full not in keep:
                os.remove(full)
                deleted.append(os.path.relpath(full, table_path))
    # prune now-empty commit dirs (cosmetic; readers never list)
    for root, dirs, names in os.walk(table_path, topdown=False):
        if root != table_path and not dirs and not names:
            os.rmdir(root)
    return sorted(deleted)


def _check_constraints(configuration: dict, df: DataFrame, where: str) -> None:
    """Enforce every ``delta.constraints.<name>`` CHECK expression on
    the rows about to land.  Delta's rule: a row violates when the
    expression is NOT TRUE (false or NULL) — the writer refuses the
    whole commit.  Cost is one filter+limit(1) scan of the BATCH (not
    the table), the same work real Delta fuses into its write job; at
    100 TB the check stays ∝ batch size because it never touches
    existing files."""
    from pyspark.sql import functions as F

    for conf_key, expr in sorted((configuration or {}).items()):
        if not conf_key.startswith("delta.constraints."):
            continue
        name = conf_key[len("delta.constraints."):]
        bad = df.filter(
            ~F.coalesce(F.expr(expr), F.lit(False))
        ).limit(1).collect()
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by a row "
                f"in {where}: {bad[0].asDict()}"
            )


def set_delta_property(table_path: str, key: str, value: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES (key = value): a metaData-only
    commit updating one configuration key — how real tables flip
    ``delta.enableChangeDataFeed`` on.  Constraint keys must go through
    add_delta_constraint (it validates existing rows first)."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )

    if key.startswith("delta.constraints."):
        raise ValueError("use add_delta_constraint for constraint keys")
    snap = DeltaSnapshot(table_path)
    version = _next_version(_log_dir(table_path))
    _commit(
        _log_dir(table_path),
        version,
        [
            _commit_info("SET TBLPROPERTIES"),
            {
                "metaData": {
                    "id": hashlib.md5(table_path.encode()).hexdigest(),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": snap.schema.json(),
                    "partitionColumns": list(snap.partition_columns),
                    "configuration": {**snap.configuration, key: value},
                    "createdTime": int(time.time() * 1000),
                }
            },
        ],
    )
    return version


# the widening pairs this engine serves end-to-end — MUST stay the
# reader's _SUPPORTED_WIDENINGS (sources/delta.py) or the writer could
# commit a change its own reader refuses
_SUPPORTED_WIDENINGS = frozenset(
    {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
        ("byte", "double"), ("short", "double"), ("integer", "double"),
    }
)


def widen_delta_column(spark, table_path: str, column: str, to_type: str) -> int:
    """ALTER TABLE ... ALTER COLUMN ... TYPE (delta-io PROTOCOL.md
    §Type Widening — the (3,7) ``typeWidening`` table feature current
    delta-spark emits): a METADATA-ONLY commit that

    * rewrites ``schemaString`` with the column at the wider type,
    * appends ``{"fromType", "toType"}`` to the field's
      ``delta.typeChanges`` metadata (what foreign readers gate on),
    * upgrades the protocol to minReader 3 / minWriter 7 with
      ``typeWidening`` in BOTH feature lists (pre-existing features
      carried; the implicit (1,2) writer features materialized per the
      spec's upgrade rule).

    NO data file is rewritten — pre-widening files keep their narrow
    physical type, and the reader serves them through the new schema
    via parquet widening promotions.  Only the spec's lossless
    integer/float widenings are accepted (the subset the paired reader
    declares); anything else refuses.  Returns the committed version."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )

    snap = DeltaSnapshot(table_path)
    by_name = {f.name: f for f in snap.schema.fields}
    if column not in by_name:
        raise DeltaError(f"no column {column!r} in {table_path!r}")
    old_field = by_name[column]
    from_type = old_field.dataType.typeName()
    if column in snap.partition_columns:
        raise DeltaError(
            "widening a partition column is not supported (partition "
            "values are stored as log strings, not parquet columns)"
        )
    if (from_type, to_type) == (from_type, from_type):
        raise DeltaError(f"column {column!r} is already {to_type!r}")
    if (from_type, to_type) not in _SUPPORTED_WIDENINGS:
        raise DeltaError(
            f"unsupported type change {from_type!r} -> {to_type!r} "
            f"(supported widenings: {sorted(_SUPPORTED_WIDENINGS)})"
        )
    new_meta = dict(old_field.metadata or {})
    new_meta["delta.typeChanges"] = list(
        new_meta.get("delta.typeChanges") or []
    ) + [{"fromType": from_type, "toType": to_type}]
    import pyspark.sql.types as T

    target = {
        "short": T.ShortType(), "integer": T.IntegerType(),
        "long": T.LongType(), "double": T.DoubleType(),
    }[to_type]
    new_schema = T.StructType(
        [
            T.StructField(f.name, target, f.nullable, new_meta)
            if f.name == column
            else f
            for f in snap.schema.fields
        ]
    )
    old_proto = snap.protocol or dict(_PROTOCOL)
    reader_feats = set(old_proto.get("readerFeatures") or [])
    writer_feats = set(old_proto.get("writerFeatures") or [])
    if int(old_proto.get("minWriterVersion") or 2) < 7 and not writer_feats:
        # materialize the (1,2)-implicit writer features on upgrade,
        # like delta-spark's protocol transition does
        writer_feats |= {"appendOnly", "invariants"}
    reader_feats.add("typeWidening")
    writer_feats.add("typeWidening")
    protocol = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(reader_feats),
        "writerFeatures": sorted(writer_feats),
    }
    version = _next_version(_log_dir(table_path))
    _commit(
        _log_dir(table_path),
        version,
        [
            _commit_info("ALTER COLUMN TYPE"),
            {"protocol": protocol},
            {
                "metaData": {
                    "id": hashlib.md5(table_path.encode()).hexdigest(),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": new_schema.json(),
                    "partitionColumns": list(snap.partition_columns),
                    "configuration": dict(snap.configuration),
                    "createdTime": int(time.time() * 1000),
                }
            },
        ],
    )
    return version


def enable_in_commit_timestamps(spark, table_path: str) -> int:
    """Enable IN-COMMIT TIMESTAMPS (PROTOCOL.md §In-Commit Timestamps
    — the (3,7) ``inCommitTimestamp`` writer feature current
    delta-spark turns on for reliable TIMESTAMP AS OF: file
    modification times move under retention/copy jobs, the recorded
    commit timestamp never does): a metadata-only commit that

    * upgrades the protocol to minWriter 7 with ``inCommitTimestamp``
      listed (implicit (1,2) features materialized),
    * sets ``delta.enableInCommitTimestamps=true`` plus the spec's
      enablement provenance keys (enablement version + timestamp),
    * and itself carries the FIRST ``inCommitTimestamp``.

    Every later commit through this writer is stamped monotonically
    (seq-derived, deterministic) by ``_commit``.  Returns the
    committed version."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )

    snap = DeltaSnapshot(table_path)
    log_dir = _log_dir(table_path)
    version = _next_version(log_dir)
    ict = _ICT_BASE_MS + version * 1000
    old_proto = snap.protocol or dict(_PROTOCOL)
    writer_feats = set(old_proto.get("writerFeatures") or [])
    if int(old_proto.get("minWriterVersion") or 2) < 7 and not writer_feats:
        writer_feats |= {"appendOnly", "invariants"}
    writer_feats.add("inCommitTimestamp")
    protocol = {
        "minReaderVersion": int(old_proto.get("minReaderVersion") or 1),
        "minWriterVersion": 7,
        "writerFeatures": sorted(writer_feats),
    }
    if protocol["minReaderVersion"] >= 3:
        protocol["readerFeatures"] = sorted(
            set(old_proto.get("readerFeatures") or [])
        )
    _commit(
        log_dir,
        version,
        [
            {
                "commitInfo": {
                    "operation": "SET TBLPROPERTIES",
                    "inCommitTimestamp": ict,
                }
            },
            {"protocol": protocol},
            {
                "metaData": {
                    "id": hashlib.md5(table_path.encode()).hexdigest(),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": snap.schema.json(),
                    "partitionColumns": list(snap.partition_columns),
                    "configuration": {
                        **snap.configuration,
                        "delta.enableInCommitTimestamps": "true",
                        "delta.inCommitTimestampEnablementVersion": str(
                            version
                        ),
                        "delta.inCommitTimestampEnablementTimestamp": str(
                            ict
                        ),
                    },
                    "createdTime": int(time.time() * 1000),
                }
            },
        ],
    )
    return version


def write_uniform_iceberg_metadata(spark, table_path: str) -> str:
    """UNIFORM-style Iceberg metadata over a Delta table (the
    delta-io "Universal Format" feature: delta-spark ≥3.0 with
    ``delta.universalFormat.enabledFormats=iceberg`` writes Iceberg
    metadata NEXT TO the Delta log so Iceberg clients read the same
    parquet files — zero data copies): generate ``metadata/`` —
    version-hint, metadata.json (schema with assigned field ids, one
    snapshot), manifest list and manifest — describing exactly the
    CURRENT Delta snapshot's active files.

    Like real UniForm the subset refuses what Iceberg clients cannot
    serve from Delta state: DELETION VECTORS (row visibility lives in
    the Delta log, not the files) and PARTITIONED tables (Delta data
    files EXCLUDE partition columns; Iceberg identity-partition files
    include them, so a cross-read would silently null those columns).
    Metadata-sized driver work; per-file record counts come from the
    log's add.stats, falling back to one KB footer read for
    checkpoint-laundered adds.  Returns the metadata dir."""
    import pyarrow.parquet as pq

    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        write_avro_container,
    )
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )
    from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
        _MANIFEST_LIST_SCHEMA,
        _MANIFEST_SCHEMA,
        _snapshot_id,
    )

    snap = DeltaSnapshot(table_path)
    if snap._dvs:
        raise DeltaError(
            "uniform subset: deletion vectors cannot be represented "
            "in Iceberg metadata (row visibility lives in the Delta "
            "log) — purge DVs (CoW rewrite) first, like real UniForm"
        )
    if snap.partition_columns:
        raise DeltaError(
            "uniform subset: partitioned Delta tables exclude the "
            "partition columns from data files; an Iceberg reader "
            "would silently null them — unpartitioned tables only"
        )
    if snap.column_mapping:
        raise DeltaError(
            "uniform subset: column-mapping tables bind by physical "
            "names/ids — not represented in this flat metadata"
        )
    _SPARK_TO_ICE = {
        "integer": "int", "long": "long", "float": "float",
        "double": "double", "string": "string", "boolean": "boolean",
        "date": "date", "binary": "binary",
        # Spark TimestampType is session-tz — Iceberg's timestamptz
        "timestamp": "timestamptz",
        "timestamp_ntz": "timestamp",
    }
    fields = []
    for i, f in enumerate(snap.schema.fields, start=1):
        simple = f.dataType.typeName()
        if simple not in _SPARK_TO_ICE:
            raise DeltaError(
                f"uniform subset: unsupported type {simple!r} for "
                f"{f.name!r}"
            )
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": False,
                "type": _SPARK_TO_ICE[simple],
            }
        )
    meta_dir = os.path.join(table_path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    seq = 1
    snap_id = _snapshot_id(snap.version + 1)
    entries = []
    for rel in sorted(snap._active):
        st = snap._stats.get(rel) or {}
        n = st.get("numRecords")
        if n is None:
            n = pq.read_metadata(os.path.join(table_path, rel)).num_rows
        entries.append((1, 0, rel, "PARQUET", int(n), seq, None, None, None))
    manifest_rel = f"metadata/manifest-uniform-{snap.version}.avro"
    write_avro_container(
        os.path.join(table_path, manifest_rel), _MANIFEST_SCHEMA, entries
    )
    list_rel = f"metadata/snap-uniform-{snap.version}.avro"
    write_avro_container(
        os.path.join(table_path, list_rel),
        _MANIFEST_LIST_SCHEMA,
        [
            (
                manifest_rel,
                os.path.getsize(os.path.join(table_path, manifest_rel)),
                snap_id,
                0,
            )
        ],
    )
    meta = {
        "format-version": 2,
        "table-uuid": hashlib.md5(
            (table_path + "-uniform").encode()
        ).hexdigest(),
        "location": table_path,
        "last-sequence-number": seq,
        "last-column-id": len(fields),
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "current-snapshot-id": snap_id,
        "snapshots": [
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "manifest-list": list_rel,
                "summary": {
                    "operation": "append",
                    # the provenance marker real UniForm writes
                    "delta-version": str(snap.version),
                },
            }
        ],
        "snapshot-log": [
            {"timestamp-ms": 1600000000000 + seq, "snapshot-id": snap_id}
        ],
        "properties": {"write.format.default": "parquet"},
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    return meta_dir


def add_delta_constraint(
    spark, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): records the
    constraint in the table configuration (the protocol's
    ``delta.constraints.<name>`` key — exactly where real Delta stores
    them, so the metaData action round-trips through checkpoints) and
    validates the EXISTING rows first, refusing if any violates — the
    same order real Delta enforces.  Subsequent appends and merges
    check every incoming batch against it.  Returns the committed
    version."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
        read_delta,
    )

    snap = DeltaSnapshot(table_path)
    conf_key = f"delta.constraints.{name}"
    if conf_key in snap.configuration:
        raise ValueError(f"constraint {name!r} already exists")
    _check_constraints(
        {conf_key: expr}, read_delta(spark, table_path), "the existing table"
    )
    version = _next_version(_log_dir(table_path))
    meta = {
        "metaData": {
            "id": hashlib.md5(table_path.encode()).hexdigest(),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": snap.schema.json(),
            "partitionColumns": list(snap.partition_columns),
            "configuration": {**snap.configuration, conf_key: expr},
            "createdTime": int(time.time() * 1000),
        }
    }
    _commit(
        _log_dir(table_path), version,
        [_commit_info("ADD CONSTRAINT"), meta],
    )
    return version


def drop_delta_constraint(spark, table_path: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: removes the configuration key
    in a new metaData commit (history keeps the constrained era)."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
    )

    snap = DeltaSnapshot(table_path)
    conf_key = f"delta.constraints.{name}"
    if conf_key not in snap.configuration:
        raise ValueError(f"no constraint {name!r}")
    conf = {k: v for k, v in snap.configuration.items() if k != conf_key}
    version = _next_version(_log_dir(table_path))
    meta = {
        "metaData": {
            "id": hashlib.md5(table_path.encode()).hexdigest(),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": snap.schema.json(),
            "partitionColumns": list(snap.partition_columns),
            "configuration": conf,
            "createdTime": int(time.time() * 1000),
        }
    }
    _commit(
        _log_dir(table_path), version,
        [_commit_info("DROP CONSTRAINT"), meta],
    )
    return version
