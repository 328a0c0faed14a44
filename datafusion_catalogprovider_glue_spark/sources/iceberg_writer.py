"""Minimal Apache Iceberg WRITER: parquet data files + Avro manifests
+ metadata.json append snapshots.

The format-trio symmetry with ``sources/delta_writer.py``: the engine
already READS Iceberg (sources/iceberg.py replays the metadata chain);
this closes the round trip so a curation pipeline standardized on
Iceberg can MATERIALIZE results, not just consume them.  Scope: append
snapshots over a v2 table, unpartitioned or partitioned with any spec
transform (identity / bucket[N] / truncate[W] / year / month / day /
hour — sources/iceberg_transforms.py), PARTITION SPEC EVOLUTION (an
append under a new partitioning adds a versioned spec; each manifest
records its spec-id so readers prune per-manifest — how long-lived
tables migrate day → hour layouts), plus copy-on-write MERGE
(merge_iceberg) and COMPACTION (compact_iceberg, a REPLACE-snapshot
rewrite_data_files).  Not in scope: row-level delete writing, schema
evolution on write (reads of evolved tables are handled by the
reader).

Format notes (Iceberg spec, https://iceberg.apache.org/spec/):
* ``metadata/version-hint.text`` → ``metadata/v<N>.metadata.json`` is
  the HadoopCatalog layout the reader follows.
* each append commit writes ONE new manifest (Avro) listing the files
  it added, and a NEW manifest list referencing every prior snapshot's
  manifests plus the new one — exactly how Iceberg fast-appends reuse
  existing manifests instead of rewriting them.
* snapshot IDs are deterministic pseudo-random 63-bit ints derived
  from the sequence number — like real Iceberg's random IDs
  they carry NO ordering; commit order lives in the per-snapshot
  ``sequence-number`` and the ``snapshot-log``, which is what the
  reader (and its incremental scan) orders by.
* manifests carry the flat field-name subset the reader decodes
  (status/content/file_path/file_format/record_count/sequence_number);
  the built-in Avro encoder (sources/avro_fallback.py) produces the
  container files.

Scale shape: the data write is the ordinary distributed parquet sink;
only file LISTINGS and KB-sized metadata touch the driver — the same
cost class as every table format's commit protocol.
"""

from __future__ import annotations

import hashlib
import json
import os
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import NotImplementedYet
from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
    write_avro_container,
)
from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    claim,
    footer_stats,
    write_data_files,
)

_SPARK_TO_ICEBERG = {
    "boolean": "boolean",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "date": "date",
    "timestamp_ntz": "timestamp",
    # spec: timestamptz is the UTC-adjusted type — Spark's TimestampType
    "timestamp": "timestamptz",
    "binary": "binary",
}

_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("status", T.IntegerType()),
        T.StructField("content", T.IntegerType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("file_format", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("sequence_number", T.LongType()),
        # identity-partition tuple as JSON (None for unpartitioned) —
        # what the reader's manifest-level pruning consumes
        T.StructField("partition", T.StringType()),
        # spec §manifests lower_bounds/upper_bounds: per-column value
        # bounds as JSON (subset: top-level int/long/float/double/
        # string columns) — what scan planning prunes FILES on without
        # opening them
        T.StructField("lower_bounds", T.StringType()),
        T.StructField("upper_bounds", T.StringType()),
    ]
)

# v3 manifest entries: the DELETION-VECTOR fields (spec v3
# §manifests) — referenced_data_file names the ONE data file the DV
# masks, content_offset/content_size_in_bytes locate the blob inside
# the puffin file.  A separate schema: fast-append commits write one
# NEW manifest, so v2 manifests carry forward untouched and the reader
# resolves fields by name from each container's embedded schema.
_MANIFEST_SCHEMA_V3 = T.StructType(
    list(_MANIFEST_SCHEMA.fields)
    + [
        T.StructField("referenced_data_file", T.StringType()),
        T.StructField("content_offset", T.LongType()),
        T.StructField("content_size_in_bytes", T.LongType()),
    ]
)

_MANIFEST_LIST_SCHEMA = T.StructType(
    [
        T.StructField("manifest_path", T.StringType()),
        T.StructField("manifest_length", T.LongType()),
        T.StructField("added_snapshot_id", T.LongType()),
        # spec §manifest-lists: each manifest records the PARTITION
        # SPEC it was written under — how a reader prunes a table
        # whose spec EVOLVED (each manifest folds through ITS spec,
        # not the current default)
        T.StructField("partition_spec_id", T.IntegerType()),
    ]
)


_AVRO_TO_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "bytes": T.BinaryType(),
}


def _struct_from_avro_schema(avro_schema: dict) -> T.StructType:
    """StructType mirroring a decoded flat nullable-primitive Avro
    record schema — so a manifest REWRITE round-trips under exactly
    the schema the original container declared (entries written by an
    older writer keep their own field set)."""
    fields = []
    for f in avro_schema["fields"]:
        t = f["type"]
        prim = next(x for x in t if x != "null") if isinstance(t, list) else t
        fields.append(T.StructField(f["name"], _AVRO_TO_SPARK[prim], True))
    return T.StructType(fields)


def _next_log_ts(meta: dict, seq: int) -> int:
    """Deterministic snapshot-log timestamp: seq-derived (not wall
    clock, so two runs produce identical bytes) but clamped strictly
    above the last log entry — a rollback appends last+1, so the next
    data commit's seq-derived value could otherwise collide."""
    log = meta.get("snapshot-log") or []
    last = log[-1]["timestamp-ms"] if log else 0
    return max(1600000000000 + seq, last + 1)


def _snapshot_id(seq: int) -> int:
    """Deterministic 63-bit pseudo-random snapshot ID, derived from the
    SEQUENCE NUMBER ONLY — deliberately not the table path.  Real
    Iceberg IDs are random longs and only need uniqueness WITHIN a
    table; excluding the path keeps the repo's determinism convention
    (identical input → identical table bytes, wherever the table
    lands — pinned by test_iceberg_writer_deterministic_metadata), at
    the documented cost that all tables share one ID sequence.  The
    ID still carries no ordering; commit order lives in
    sequence-number / snapshot-log, which the reader orders by."""
    h = hashlib.md5(f"iceberg-snapshot#{seq}".encode()).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF


def _data_file_entry(rel: str, full: str, partition) -> tuple:
    """(relative path, row count, partition, lower_bounds_json,
    upper_bounds_json) for one written data file — the row count and
    the bounds come from one read of its footer (the shared fold,
    sources/parquet_stats.py), the write-time cost of making every
    later scan plan prunable."""
    n, stats = footer_stats(full)
    lows = {c: s[0] for c, s in stats.items()}
    highs = {c: s[1] for c, s in stats.items()}
    return (
        rel,
        n,
        partition,
        json.dumps(lows, sort_keys=True) if lows else None,
        json.dumps(highs, sort_keys=True) if highs else None,
    )


def _iceberg_schema(schema: T.StructType) -> list[dict]:
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        s = f.dataType.simpleString()
        if s not in _SPARK_TO_ICEBERG:
            raise NotImplementedYet(
                f"iceberg writer subset: unsupported type {s!r} for {f.name!r}"
            )
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": False,
                "type": _SPARK_TO_ICEBERG[s],
            }
        )
    return fields


def _write_new_avro(path: str, schema: T.StructType, rows) -> None:
    """Write one manifest or manifest list put-if-absent.  Their names
    derive from the sequence number, so a writer holding stale
    metadata fails here instead of replacing the files of the
    snapshot that already took that sequence number."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    write_avro_container(tmp, schema, rows)
    claim(tmp, path)


def _load_meta(meta_dir: str) -> tuple[int, dict]:
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        version = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as fh:
        return version, json.load(fh)


def _norm_spec(partition_by, transform: str = "identity") -> list[tuple[str, str]]:
    """Normalize the partitioning argument to [(source col, transform)]:
    a bare column string (with the separate ``transform`` arg) or a
    list of (col, transform) pairs for MULTI-FIELD specs — the common
    real layout days(ts) + bucket(user)."""
    if partition_by is None:
        return []
    if isinstance(partition_by, str):
        return [(partition_by, transform)]
    return [(c, t) for c, t in partition_by]


def _write_data_files(
    df: DataFrame, table_path: str, seq: int, spec, n_files: int
) -> list[tuple]:
    """Distributed parquet write under ``data/commit-<seq>/`` laid out
    by the partition ``spec`` [(source col, transform)] (spec
    §partition-transforms; identity / bucket[N] / truncate[W] / year /
    month / day / hour — sources/iceberg_transforms.py; empty for an
    unpartitioned write): the layout is the TRANSFORMED value tuple,
    the source columns stay in the data files untouched (the spec's
    rule), and each file is named ``part-NNNNN.parquet`` by its place
    in its directory — Spark's part names embed a random job UUID,
    which would leak nondeterminism into the manifests.  Returns one
    ``_data_file_entry`` per file, stamped with its partition tuple
    keyed by PARTITION FIELD names (ts_day, k_bucket, …; == the column
    for identity) — the metadata planners prune on without opening
    files."""
    from datafusion_catalogprovider_glue_spark.sources.iceberg_transforms import (
        partition_field_name,
        transform_column,
        transformed_dtype,
    )

    dtype_of = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )
    fields = []  # (layout col, spec field name, output dtype)
    out_df = df
    for i, (col, tf) in enumerate(spec):
        layout = f"__p{i}"
        out_df = out_df.withColumn(
            layout, transform_column(df[col], tf, dtype_of[col])
        )
        fields.append(
            (layout, partition_field_name(col, tf),
             transformed_dtype(tf, dtype_of[col]))
        )

    def _name(rel: str, _values: dict, i: int) -> str:
        return posixpath.join(
            f"data/commit-{seq}", posixpath.dirname(rel),
            f"part-{i:05d}.parquet",
        )

    def _parse(raw, dtype: str):
        # a NULL partition value records null, never int(None)
        if raw is None or dtype not in ("int", "bigint"):
            return raw
        return int(raw)

    return [
        _data_file_entry(
            rel, os.path.join(table_path, rel),
            {name: _parse(values[layout], dtype)
             for layout, name, dtype in fields} or None,
        )
        for rel, values in write_data_files(
            out_df, table_path, _name, [f[0] for f in fields], n_files
        )
    ]


def append_iceberg(
    df: DataFrame,
    table_path: str,
    n_files: int = 2,
    partition_by=None,
    transform: str = "identity",
    branch: str = None,
    summary_extra: dict = None,
) -> int:
    """Append ``df`` to the Iceberg table at ``table_path`` (creating
    v1 metadata on first call).  Returns the committed SNAPSHOT ID
    (a random-looking long — order is in sequence-number).  With
    ``partition_by``, the append is partitioned under ``transform``
    (spec §partition-transforms: identity / bucket[N] / truncate[W] /
    year / month / day / hour — how real Iceberg tables actually lay
    out, e.g. days(ts) on event tables): files lay out per transformed
    value, the partition spec is recorded in ``partition-specs``
    metadata, and each manifest entry carries its partition tuple, so
    reads with ``partition_filter`` prune at the manifest level without
    opening files.  ``partition_by`` is a column name (with
    ``transform``) or, for MULTI-FIELD specs, a list of (column,
    transform) pairs — e.g. ``[("ts", "day"), ("user_id",
    "bucket[4]")]``, the canonical event-table layout.  A later
    append under a DIFFERENT partitioning (including unpartitioned ↔
    partitioned in either direction) EVOLVES the spec: a new
    versioned spec is recorded and becomes the default, and the
    commit's manifest carries its spec-id for per-manifest pruning."""
    from datafusion_catalogprovider_glue_spark.sources.iceberg_transforms import (
        partition_field_name,
    )

    meta_dir = os.path.join(table_path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    hint = os.path.join(meta_dir, "version-hint.text")

    def _spec_fields():
        names = [f.name for f in df.schema.fields]
        return [
            {
                "name": partition_field_name(col, tf),
                "transform": tf,
                "source-id": 1 + names.index(col),
                "field-id": 1000 + i,
            }
            for i, (col, tf) in enumerate(_norm_spec(partition_by, transform))
        ]

    if os.path.exists(hint):
        version, meta = _load_meta(meta_dir)
        fields = _iceberg_schema(df.schema)
        # validate against the CURRENT schema (schema-id ==
        # current-schema-id), not schemas[0] — on a schema-evolved
        # table (which the reader supports) schemas[0] is the oldest
        cur_id = meta.get("current-schema-id", 0)
        have = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == cur_id
        )["fields"]
        if fields != have:
            raise NotImplementedYet(
                "iceberg writer subset: appended schema must match the "
                f"table schema (table: {have}, append: {fields})"
            )
        seq = meta["last-sequence-number"] + 1
        prior = meta["snapshots"]
        prior_manifests = []
        # spec §refs: a BRANCH append stacks on the branch head (the
        # ref auto-creates at the main head on first use — Iceberg's
        # write-audit-publish staging pattern); a plain append stacks
        # on the current (main) snapshot
        parent_id = meta.get("current-snapshot-id")
        if branch is not None:
            ref = (meta.get("refs") or {}).get(branch)
            if ref is not None:
                if ref.get("type") != "branch":
                    raise ValueError(
                        f"ref {branch!r} is a {ref.get('type')}, not a "
                        "branch — tags are immutable"
                    )
                parent_id = ref["snapshot-id"]
        if prior and parent_id is not None:
            cur = next(
                s
                for s in prior
                if s["snapshot-id"] == parent_id
            )
            from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
                decode_container_file,
            )

            list_schema, rows = decode_container_file(
                os.path.join(table_path, cur["manifest-list"])
            )
            names = [f["name"] for f in list_schema["fields"]]
            prior_manifests = [dict(zip(names, r)) for r in rows]
    else:
        version, meta = 0, {
            "format-version": 2,
            "table-uuid": hashlib.md5(table_path.encode()).hexdigest(),
            "location": table_path,
            "current-schema-id": 0,
            "schemas": [
                {
                    "schema-id": 0,
                    "type": "struct",
                    "fields": _iceberg_schema(df.schema),
                }
            ],
            "partition-specs": [{"spec-id": 0, "fields": _spec_fields()}],
            "default-spec-id": 0,
            "snapshots": [],
            "snapshot-log": [],
            "last-sequence-number": 0,
        }
        seq = 1
        prior_manifests = []
        parent_id = None

    # PARTITION SPEC resolution with EVOLUTION (spec §partition-specs):
    # an append whose partitioning matches a recorded spec (by name /
    # transform / source-id — field-ids are assignment artifacts)
    # reuses that spec's id; any other partitioning — including
    # unpartitioned-onto-partitioned and the reverse — ADDS a new spec
    # with a fresh spec-id and fresh field-ids and becomes the
    # default, exactly how long-lived tables migrate day → hour
    # layouts.  The manifest this commit writes records its spec-id in
    # the manifest list, so the reader folds EACH manifest through ITS
    # OWN spec when pruning.
    req = _spec_fields()
    specs = list(meta.get("partition-specs") or [])
    if not specs:
        specs = [{"spec-id": 0, "fields": []}]

    def _spec_key(fields: list[dict]) -> list[tuple]:
        return [
            (f["name"], f.get("transform", "identity"), f.get("source-id"))
            for f in fields
        ]

    match = next(
        (s for s in specs if _spec_key(s["fields"]) == _spec_key(req)), None
    )
    if match is None:
        next_id = max(s.get("spec-id", 0) for s in specs) + 1
        base = 1000 + sum(len(s["fields"]) for s in specs)
        match = {
            "spec-id": next_id,
            "fields": [
                dict(f, **{"field-id": base + i}) for i, f in enumerate(req)
            ],
        }
        specs = specs + [match]
    spec_id = match.get("spec-id", 0)
    meta["partition-specs"] = specs
    meta["default-spec-id"] = spec_id

    snap_id = _snapshot_id(seq)
    data_files = _write_data_files(
        df, table_path, seq, _norm_spec(partition_by, transform), n_files
    )

    manifest_rel = f"metadata/manifest-{seq}-{snap_id}.avro"
    _write_new_avro(
        os.path.join(table_path, manifest_rel),
        _MANIFEST_SCHEMA,
        [
            (
                1,
                0,
                rel,
                "PARQUET",
                n,
                seq,
                json.dumps(part, sort_keys=True) if part else None,
                lo,
                hi,
            )
            for rel, n, part, lo, hi in data_files
        ],
    )
    list_rel = f"metadata/snap-{snap_id}.avro"
    list_rows = [
        (
            m["manifest_path"],
            m["manifest_length"],
            m["added_snapshot_id"],
            # manifests carried from lists written before spec
            # evolution landed default to spec 0 (the only spec such
            # tables can have)
            int(m.get("partition_spec_id") or 0),
        )
        for m in prior_manifests
    ] + [
        (
            manifest_rel,
            os.path.getsize(os.path.join(table_path, manifest_rel)),
            snap_id,
            spec_id,
        )
    ]
    _write_new_avro(
        os.path.join(table_path, list_rel), _MANIFEST_LIST_SCHEMA, list_rows
    )

    meta = dict(meta)
    meta["snapshots"] = list(meta["snapshots"]) + [
        {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "manifest-list": list_rel,
            # spec §snapshots: parent linkage is what lets a publish
            # verify fast-forward safety (ancestor walk)
            "parent-snapshot-id": parent_id,
            # spec §snapshots: the summary's REQUIRED field is
            # `operation`; extra string properties (how Iceberg's own
            # streaming sink records its epoch id) ride along
            "summary": {"operation": "append", **(summary_extra or {})},
        }
    ]
    if branch is not None:
        # branch commit: only the ref moves — main (current-snapshot-id
        # and its snapshot-log) is untouched, which is the entire point
        # of write-audit-publish staging
        refs = dict(meta.get("refs") or {})
        refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
        meta["refs"] = refs
    else:
        meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
            # deterministic pseudo-timestamp: strictly increasing with
            # seq, derived (not wall clock) so two runs produce
            # identical bytes
            {"timestamp-ms": _next_log_ts(meta, seq), "snapshot-id": snap_id}
        ]
        meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq

    # atomic publish, the commit point
    _publish_metadata(meta_dir, version, meta)
    return snap_id


def _default_spec_partition_by(meta: dict) -> list:
    """Resolve the table's DEFAULT partition spec into the
    [(source column, transform)] form the partitioned writer takes —
    how a REPLACE commit (merge/compact) PRESERVES the table's layout
    instead of degrading it to unpartitioned files that can never
    prune again."""
    specs = meta.get("partition-specs") or []
    default = next(
        (
            s
            for s in specs
            if s.get("spec-id", 0) == meta.get("default-spec-id", 0)
        ),
        None,
    )
    if not default or not default.get("fields"):
        return []
    cur_id = meta.get("current-schema-id", 0)
    schema = next(
        s
        for s in (meta.get("schemas") or [meta.get("schema")])
        if s.get("schema-id", 0) == cur_id
    )
    id_to_name = {f["id"]: f["name"] for f in schema.get("fields", [])}
    return [
        (id_to_name[f["source-id"]], f.get("transform", "identity"))
        for f in default["fields"]
    ]



def merge_iceberg(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    matched_delete=None,
    matched_update=None,
    summary_extra: dict = None,
) -> int:
    """Batch MERGE INTO the Iceberg table — WHEN MATCHED AND cond THEN
    DELETE / WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    INSERT *, compiled to one full-outer join over the current snapshot
    plus a copy-on-write REPLACE snapshot: the new manifest list drops
    every prior manifest and references one manifest holding the
    rewritten state (how Iceberg's copy-on-write MERGE commits look
    after touching every file).  Prior snapshots stay readable — time
    travel crosses the rewrite — while the incremental appendsBetween
    scan refuses ranges spanning it, per the append-only contract.
    Duplicate source keys are refused (MERGE ambiguity rule).  Returns
    the new snapshot id."""
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
    )

    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        read_iceberg,
    )

    snap = IcebergSnapshot(table_path)
    cols = [f.name for f in snap.schema.fields]
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != table "
            f"columns {sorted(cols)}"
        )
    dups = (
        source.groupBy(*on).agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).limit(1).count()
    )
    if dups:
        raise ValueError(
            "merge source has duplicate keys — a target row may match "
            "at most one source row"
        )
    # the ENGINE's own reader: row-level deletes apply (a CoW merge
    # over a pos/eq-delete-bearing table starts from the TRUE logical
    # table; the REPLACE retires the delete files), schema evolution
    # resolves per file
    target = read_iceberg(spark, table_path)
    # side markers instead of key isNotNull(): NULL merge keys are
    # legal under the null-safe join and must still route to the
    # matched/insert branch (same fix as delta_writer.merge_delta)
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
        # conditional UPDATE (merge-if-newer): a matched row takes the
        # source only when the condition holds; inserts always do —
        # same shape as delta_writer.merge_delta, what foreachBatch
        # upserts need to stay micro-batch-order-independent
        take_source = take_source & (
            F.col("t.__tgt").isNull() | matched_update
        )
    merged = joined.filter(keep).select(
        *[
            F.when(take_source, F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in cols
        ]
    )

    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    seq = meta["last-sequence-number"] + 1
    snap_id = _snapshot_id(seq)
    data_files = _write_data_files(
        merged, table_path, seq, _default_spec_partition_by(meta), 2
    )
    manifest_rel = f"metadata/manifest-{seq}-{snap_id}.avro"
    _write_new_avro(
        os.path.join(table_path, manifest_rel),
        _MANIFEST_SCHEMA,
        [
            (
                1, 0, rel, "PARQUET", n, seq,
                json.dumps(part, sort_keys=True) if part else None,
                lo, hi,
            )
            for rel, n, part, lo, hi in data_files
        ],
    )
    list_rel = f"metadata/snap-{snap_id}.avro"
    # REPLACE: the new manifest list references ONLY the new manifest —
    # prior files are logically removed from this snapshot onward
    _write_new_avro(
        os.path.join(table_path, list_rel),
        _MANIFEST_LIST_SCHEMA,
        [
            (
                manifest_rel,
                os.path.getsize(os.path.join(table_path, manifest_rel)),
                snap_id,
                int(meta.get("default-spec-id") or 0),
            )
        ],
    )
    meta = dict(meta)
    meta["snapshots"] = list(meta["snapshots"]) + [
        {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "manifest-list": list_rel,
            # spec §snapshots: the summary's REQUIRED field is
            # `operation` — what the snapshots metadata table projects
            "summary": {
                "operation": "overwrite", **(summary_extra or {}),
            },
        }
    ]
    meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": _next_log_ts(meta, seq), "snapshot-id": snap_id}
    ]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    _publish_metadata(meta_dir, version, meta)
    return snap_id


def compact_iceberg(spark: SparkSession, table_path: str) -> int:
    """COMPACTION (Iceberg's rewrite_data_files): rewrite every live
    data file into one, committed as a copy-on-write REPLACE snapshot —
    the same commit shape as merge_iceberg, with the logical table
    unchanged (the property the gate key's hash match pins).  Prior
    snapshots stay time-travelable across the rewrite; the incremental
    appendsBetween scan refuses ranges spanning it, per the append-only
    contract.  Completes compaction symmetry across the trio
    (compact_delta, compact_hudi).  Returns the new snapshot id."""
    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
    )

    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        read_iceberg,
    )

    snap = IcebergSnapshot(table_path)
    # read through the ENGINE's own reader: position/equality deletes
    # apply (this is how accumulated row-level deletes FOLD AWAY —
    # the rewritten files carry no masked rows and the delete files
    # retire with the REPLACE), schema evolution resolves per file
    df = read_iceberg(spark, table_path)

    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    seq = meta["last-sequence-number"] + 1
    snap_id = _snapshot_id(seq)
    data_files = _write_data_files(
        df, table_path, seq, _default_spec_partition_by(meta), 1
    )
    manifest_rel = f"metadata/manifest-{seq}-{snap_id}.avro"
    _write_new_avro(
        os.path.join(table_path, manifest_rel),
        _MANIFEST_SCHEMA,
        [
            (
                1, 0, rel, "PARQUET", n, seq,
                json.dumps(part, sort_keys=True) if part else None,
                lo, hi,
            )
            for rel, n, part, lo, hi in data_files
        ],
    )
    list_rel = f"metadata/snap-{snap_id}.avro"
    _write_new_avro(
        os.path.join(table_path, list_rel),
        _MANIFEST_LIST_SCHEMA,
        [
            (
                manifest_rel,
                os.path.getsize(os.path.join(table_path, manifest_rel)),
                snap_id,
                int(meta.get("default-spec-id") or 0),
            )
        ],
    )
    meta = dict(meta)
    meta["snapshots"] = list(meta["snapshots"]) + [
        {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "manifest-list": list_rel,
            # spec §snapshots: the summary's REQUIRED field is
            # `operation` — what the snapshots metadata table projects
            "summary": {"operation": "replace"},
        }
    ]
    meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": _next_log_ts(meta, seq), "snapshot-id": snap_id}
    ]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    _publish_metadata(meta_dir, version, meta)
    return snap_id


def merge_iceberg_pos_delete(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    matched_delete=None,
) -> int:
    """MERGE that emits V2 POSITION DELETES instead of rewriting files
    — the Iceberg analog of delta_writer.merge_delta_dv (spec
    §position-delete-files), completing the low-write-amplification
    merge across the trio (Delta DVs / Hudi MoR logs / Iceberg pos
    deletes):

    * every MATCHED target pre-image lands as one (file_path, pos)
      row in ONE delete parquet committed at this sequence number —
      it applies to data files with sequence <= its own, per the
      reader's scoping (`iceberg._scan`), so the original
      data files stay byte-identical;
    * updated + inserted rows land as new data files (under the
      table's default partition spec, like merge_iceberg);
    * the commit is a FAST-APPEND: prior manifests carry forward, one
      new manifest lists the delete file (content=1) and the adds.

    The target is the reader's live rows with their identity
    (`iceberg._scan`): files resolve to the current schema by field
    id, so a renamed key still matches, and CHAINED merges work
    because the table's live position deletes (seq-scoped) apply
    before matching — an already-deleted row can never rematch.
    Equality deletes are refused (their scoping interacts with the
    new data files).
    Duplicate source keys are refused (MERGE ambiguity rule).
    Returns the new snapshot id."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
        _scan,
    )

    snap = IcebergSnapshot(table_path)
    if snap.eq_deletes:
        raise NotImplementedYet(
            "iceberg pos-delete merge subset: table carries equality "
            "deletes"
        )
    cols = [f.name for f in snap.schema.fields]
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != table "
            f"columns {sorted(cols)}"
        )
    # ONE source pass gates duplicate keys AND returns the source row
    # count (keys unique after the gate → downstream emptiness checks
    # become arithmetic; no extra limit-count jobs — guide §1.2/§2.4)
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
    root = os.path.abspath(table_path) + "/"
    # the reader's live rows with their identity: the table's live
    # position deletes apply (seq-scoped), so an already-deleted row
    # can never rematch
    t = _scan(spark, snap, snap.files, identity=True).alias("t")
    s = source.withColumn("__src", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on]
    flag = (
        F.lit(False) if matched_delete is None
        else matched_delete.cast("boolean")
    )
    # the matched projection materializes ONCE (the delete-parquet
    # write below is its first action); the write's anti-join and the
    # drop-key count reuse it instead of re-running the target scan
    matched_small = t.join(s, cond, "inner").select(
        F.col("t._file").alias("_file"),
        F.col("t._pos").alias("_pos"),
        *[F.col(f"s.{k}").alias(k) for k in on],
        flag.alias("_drop"),
    ).persist()
    removed = matched_small.select("_file", "_pos")

    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    seq = meta["last-sequence-number"] + 1
    snap_id = _snapshot_id(seq)

    manifest_entries = []
    # ONE delete parquet for all matched pre-images (table-relative
    # file paths — the reader normalizes either form); written
    # unconditionally, dropped again when empty (the footer row count
    # replaces the previous probe-count job)
    del_df = removed.select(
        F.replace(
            F.col("_file"), F.lit(root), F.lit("")
        ).alias("file_path"),
        F.col("_pos").cast("long").alias("pos"),
    ).orderBy("file_path", "pos")
    [(del_rel, _values)] = write_data_files(
        del_df, table_path, lambda *_: f"data/deletes-{seq}.parquet",
        n_files=1,
    )
    n_del = pq.read_metadata(os.path.join(table_path, del_rel)).num_rows
    if n_del:
        manifest_entries.append(
            (1, 1, del_rel, "PARQUET", n_del, seq, None, None, None)
        )
    else:
        os.unlink(os.path.join(table_path, del_rel))

    if matched_delete is not None:
        drop_keys = matched_small.filter(F.col("_drop")).select(*on).distinct()
        anti_cond = [source[k].eqNullSafe(drop_keys[k]) for k in on]
        new_rows = source.join(drop_keys, anti_cond, "left_anti")
    else:
        new_rows = source

    if n_src > 0:
        # write unconditionally; emptiness (everything matched the
        # delete clause) is detected from the footer row counts the
        # listing already reads — no probe-count job
        data_files = _write_data_files(
            new_rows.select(*cols), table_path, seq,
            _default_spec_partition_by(meta), 1,
        )
        empty = [rel for rel, n, *_rest in data_files if n == 0]
        for rel in empty:
            os.unlink(os.path.join(table_path, rel))
        data_files = [t for t in data_files if t[1] > 0]
        manifest_entries.extend(
            (
                1, 0, rel, "PARQUET", n, seq,
                json.dumps(part, sort_keys=True) if part else None,
                lo, hi,
            )
            for rel, n, part, lo, hi in data_files
        )
    matched_small.unpersist(blocking=False)
    if not manifest_entries:
        raise ValueError("empty merge: source matched nothing and adds nothing")

    return _commit_fast_append(
        table_path, version, meta, seq, snap_id, manifest_entries
    )


def merge_iceberg_dv_v3(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    matched_delete=None,
) -> int:
    """MERGE emitting V3 DELETION VECTORS (spec v3 §Position Delete
    Vectors — Iceberg 1.8+/format-version 3's puffin-stored
    replacement for v2 position-delete files):

    * every MATCHED target pre-image becomes one bit in a per-data-file
      roaring DV; all DVs of the commit land in ONE puffin file
      (sources/puffin.py), each registered as a content=1 manifest
      entry with ``referenced_data_file`` + ``content_offset`` +
      ``content_size_in_bytes`` and file_format PUFFIN;
    * updated + inserted rows land as new data files (default spec);
    * the commit is a fast-append and bumps format-version to 3.

    DV bytes are ENCODED WHERE THE MATCHES ARE (applyInPandas per
    file group — the merge_delta_dv discipline); the driver collects
    only KB-sized blobs to assemble the puffin.

    The target is the reader's live rows with their identity
    (`iceberg._scan`, renamed keys resolved by field id).  CHAINED
    merges work (r10): the table's existing DVs apply there (an
    already-deleted row can never rematch), a re-masked file's
    replacement vector UNIONS the old positions, and
    the superseded manifest entry is dropped from the carried-forward
    manifest (rewritten under a -rw name; prior snapshots keep their
    original manifests, so time travel is unchanged) — preserving the
    spec's one-DV-per-data-file rule that the reader enforces.  Files
    whose DV is untouched this commit keep their old entry.  v2
    delete files on the table refuse (mixing is outside the subset).
    Returns the new snapshot id."""
    import pandas as pd
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
        _dv_rows,
        _scan,
    )
    from datafusion_catalogprovider_glue_spark.sources.puffin import (
        encode_dv_blob,
    )

    snap = IcebergSnapshot(table_path)
    if snap.delete_files or snap.eq_deletes:
        raise NotImplementedYet(
            "iceberg DV merge subset: table carries v2 delete files"
        )
    cols = [f.name for f in snap.schema.fields]
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != table "
            f"columns {sorted(cols)}"
        )
    # ONE source pass gates duplicate keys AND returns the source row
    # count (keys unique after the gate → downstream emptiness checks
    # become arithmetic; no extra limit-count jobs — guide §1.2/§2.4)
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
    root = os.path.abspath(table_path) + "/"
    # the reader's live rows with their identity: the table's existing
    # DVs apply, so an already-deleted row can never rematch
    t = _scan(spark, snap, snap.files, identity=True).alias("t")
    s = source.withColumn("__src", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on]
    flag = (
        F.lit(False) if matched_delete is None
        else matched_delete.cast("boolean")
    )
    # the matched projection materializes ONCE (the DV-encode collect
    # below is its first action); the drop-key count and the write's
    # anti-join reuse it instead of re-running the target scan + the
    # executor-side old-DV expansion (two extra full passes before —
    # optimization r10, guide §1.2/§2.4)
    matched_small = t.join(s, cond, "inner").select(
        F.col("t._file").alias("_file"),
        F.col("t._pos").alias("_pos"),
        *[F.col(f"s.{k}").alias(k) for k in on],
        flag.alias("_drop"),
    ).persist()
    removed = matched_small.select("_file", "_pos")
    if snap.dv_entries:
        # CHAINED merge: files re-masked this commit absorb their OLD
        # vector into the replacement (spec v3: at most one DV per data
        # file — the replacement supersedes, never sits beside); files
        # untouched this commit keep their old DV entry (dropped from
        # the carried manifests only when replaced)
        refiles = removed.select("_file").distinct()
        removed = removed.unionByName(
            _dv_rows(spark, snap)
            .select("_file", "_pos")
            .join(F.broadcast(refiles), "_file", "semi")
        )

    # per-file roaring blobs, encoded executor-side
    def _encode_group(key, pdf):
        positions = sorted(int(p) for p in pdf["_pos"])
        return pd.DataFrame(
            {
                "_file": [key[0]],
                "blob": [encode_dv_blob(positions)],
                "cardinality": [len(positions)],
            }
        )

    blobs = (
        removed.groupBy("_file")
        .applyInPandas(
            _encode_group,
            "_file string, blob binary, cardinality long",
        )
        .collect()
    )
    if matched_delete is not None:
        drop_keys = matched_small.filter(F.col("_drop")).select(*on).distinct()
        anti_cond = [source[k].eqNullSafe(drop_keys[k]) for k in on]
        new_rows = source.join(drop_keys, anti_cond, "left_anti")
    else:
        new_rows = source

    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    seq = meta["last-sequence-number"] + 1
    snap_id = _snapshot_id(seq)

    manifest_entries = []
    if blobs:
        import struct as _struct

        puffin_rel = f"data/deletes-{seq}.puffin"
        os.makedirs(os.path.join(table_path, "data"), exist_ok=True)
        from datafusion_catalogprovider_glue_spark.sources.puffin import (
            DV_BLOB_TYPE,
            PUFFIN_MAGIC,
        )

        body = bytearray(PUFFIN_MAGIC)
        blobs_meta = []
        for row in sorted(blobs, key=lambda r: r["_file"]):
            rel_file = row["_file"]
            if rel_file.startswith(root):
                rel_file = rel_file[len(root):]
            offset = len(body)
            body += bytes(row["blob"])
            blobs_meta.append(
                {
                    "type": DV_BLOB_TYPE,
                    "fields": [],
                    "snapshot-id": snap_id,
                    "sequence-number": seq,
                    "offset": offset,
                    "length": len(bytes(row["blob"])),
                    "properties": {
                        "referenced-data-file": rel_file,
                        "cardinality": str(int(row["cardinality"])),
                    },
                }
            )
            manifest_entries.append(
                (
                    1, 1, puffin_rel, "PUFFIN",
                    int(row["cardinality"]), seq, None, None, None,
                    rel_file, offset, len(bytes(row["blob"])),
                )
            )
        payload = json.dumps({"blobs": blobs_meta}, sort_keys=True).encode()
        body += PUFFIN_MAGIC
        body += payload
        body += _struct.pack("<I", len(payload))
        body += _struct.pack("<I", 0)
        body += PUFFIN_MAGIC
        out_path = os.path.join(table_path, puffin_rel)
        tmp = f"{out_path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(bytes(body))
        claim(tmp, out_path)  # a seq-derived name, like the manifests'

    if n_src > 0:
        # write unconditionally; emptiness (everything matched the
        # delete clause) is detected from the footer row counts the
        # listing already reads — no probe-count job
        data_files = _write_data_files(
            new_rows.select(*cols), table_path, seq,
            _default_spec_partition_by(meta), 1,
        )
        empty = [rel for rel, n, *_rest in data_files if n == 0]
        for rel in empty:
            os.unlink(os.path.join(table_path, rel))
        data_files = [t for t in data_files if t[1] > 0]
        manifest_entries.extend(
            (
                1, 0, rel, "PARQUET", n, seq,
                json.dumps(part, sort_keys=True) if part else None,
                lo, hi,
                None, None, None,
            )
            for rel, n, part, lo, hi in data_files
        )
    matched_small.unpersist(blocking=False)
    if not manifest_entries:
        raise ValueError("empty merge: source matched nothing and adds nothing")

    replaced = {
        e[9] for e in manifest_entries if e[1] == 1 and e[9]
    }  # referenced_data_file of this commit's DV entries

    def _superseded(entry: dict) -> bool:
        return (
            (entry.get("content") or 0) == 1
            and entry.get("referenced_data_file") in replaced
        )

    return _commit_fast_append(
        table_path, version, meta, seq, snap_id, manifest_entries,
        manifest_schema=_MANIFEST_SCHEMA_V3, format_version=3,
        drop_prior_entry=_superseded if replaced else None,
    )


def _commit_fast_append(
    table_path: str,
    version: int,
    meta: dict,
    seq: int,
    snap_id: int,
    manifest_entries: list[tuple],
    operation: str = "overwrite",
    manifest_schema: T.StructType = None,
    format_version: int = None,
    drop_prior_entry=None,
) -> int:
    """Publish ONE new manifest under a FAST-APPEND manifest list
    (every prior manifest carries forward with its spec-id) and the
    next metadata.json — the commit tail shared by the row-level
    delete writers.  ``manifest_schema`` lets the v3 DV writer emit
    the extended entry shape; ``format_version`` bumps the table's
    format-version on commit (never downgrades).

    ``drop_prior_entry`` (entry-dict → bool) REWRITES any carried
    prior manifest whose entries match, dropping them — how a chained
    DV merge retires the superseded per-file vector (spec v3: a data
    file carries at most ONE DV, so the replacement must remove the
    old entry from the snapshot, not just add a new one).  Untouched
    manifests carry forward byte-identical; rewritten ones publish
    under a -rw suffix so prior SNAPSHOTS (which reference the old
    manifest path) still time-travel unchanged."""
    meta_dir = os.path.join(table_path, "metadata")
    manifest_rel = f"metadata/manifest-{seq}-{snap_id}.avro"
    _write_new_avro(
        os.path.join(table_path, manifest_rel),
        manifest_schema if manifest_schema is not None else _MANIFEST_SCHEMA,
        manifest_entries,
    )
    prior = meta["snapshots"]
    prior_manifests = []
    if prior:
        from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
            decode_container_file,
        )

        cur = next(
            s for s in prior if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        list_schema, rows = decode_container_file(
            os.path.join(table_path, cur["manifest-list"])
        )
        names = [f["name"] for f in list_schema["fields"]]
        prior_manifests = [dict(zip(names, r)) for r in rows]
    if drop_prior_entry is not None and prior_manifests:
        rewritten = []
        for i, m in enumerate(prior_manifests):
            m_schema, m_rows = decode_container_file(
                os.path.join(table_path, m["manifest_path"])
            )
            m_names = [f["name"] for f in m_schema["fields"]]
            keep = [
                r for r in m_rows
                if not drop_prior_entry(dict(zip(m_names, r)))
            ]
            if len(keep) == len(m_rows):
                rewritten.append(m)
                continue
            if not keep:
                continue  # every entry superseded: manifest retires
            new_rel = f"metadata/manifest-{seq}-{snap_id}-rw{i}.avro"
            _write_new_avro(
                os.path.join(table_path, new_rel),
                _struct_from_avro_schema(m_schema),
                keep,
            )
            rewritten.append(
                {
                    **m,
                    "manifest_path": new_rel,
                    "manifest_length": os.path.getsize(
                        os.path.join(table_path, new_rel)
                    ),
                }
            )
        prior_manifests = rewritten
    list_rel = f"metadata/snap-{snap_id}.avro"
    _write_new_avro(
        os.path.join(table_path, list_rel),
        _MANIFEST_LIST_SCHEMA,
        [
            (
                m["manifest_path"],
                m["manifest_length"],
                m["added_snapshot_id"],
                int(m.get("partition_spec_id") or 0),
            )
            for m in prior_manifests
        ]
        + [
            (
                manifest_rel,
                os.path.getsize(os.path.join(table_path, manifest_rel)),
                snap_id,
                int(meta.get("default-spec-id") or 0),
            )
        ],
    )
    meta = dict(meta)
    if format_version is not None:
        meta["format-version"] = max(
            int(meta.get("format-version") or 1), format_version
        )
    meta["snapshots"] = list(meta["snapshots"]) + [
        {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "manifest-list": list_rel,
            # spec §snapshots: the summary's REQUIRED field is
            # `operation` — what the snapshots metadata table projects
            "summary": {"operation": operation},
        }
    ]
    meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": _next_log_ts(meta, seq), "snapshot-id": snap_id}
    ]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    _publish_metadata(meta_dir, version, meta)
    return snap_id


def delete_iceberg_eq(
    spark: SparkSession, table_path: str, keys: DataFrame
) -> int:
    """EQUALITY DELETE commit (spec §equality-delete-files): every
    table row whose values null-safe-match a ``keys`` row on the
    keys' columns is deleted — the streaming-CDC delete primitive
    (Flink's Iceberg sink emits exactly these): no scan of the table
    is needed AT WRITE TIME, the (tiny) key file commits in O(keys)
    and the match cost moves to read time.  The delete file's columns
    ARE its equality ids (the reader's flat-manifest subset); it
    applies to data files with STRICTLY SMALLER sequence numbers, so
    rows appended after the delete survive — the reader's scoping
    (sources/iceberg.py:448-473).  Returns the new snapshot id."""
    import pyarrow.parquet as pq

    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
    )

    snap = IcebergSnapshot(table_path)
    cols = {f.name for f in snap.schema.fields}
    missing = [c for c in keys.columns if c not in cols]
    if missing:
        raise ValueError(
            f"equality-delete columns {missing} not in table schema"
        )
    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    seq = meta["last-sequence-number"] + 1
    snap_id = _snapshot_id(seq)
    [(del_rel, _values)] = write_data_files(
        keys.distinct(), table_path,
        lambda *_: f"data/eq-deletes-{seq}.parquet", n_files=1,
    )
    n = pq.read_metadata(os.path.join(table_path, del_rel)).num_rows
    if not n:
        os.unlink(os.path.join(table_path, del_rel))
        raise ValueError("empty equality delete: no key rows")
    return _commit_fast_append(
        table_path, version, meta, seq, snap_id,
        [(1, 2, del_rel, "PARQUET", n, seq, None, None, None)],
        operation="delete",
    )


def write_iceberg_ndv_stats(
    spark: SparkSession, table_path: str, columns: list[str]
) -> str:
    """STATISTICS FILE with per-column NDV sketches (spec §Table
    Metadata ``statistics`` — the puffin sidecar Iceberg's
    UpdateStatistics registers; engines read the blob ``ndv``
    property for CBO cardinality without touching data): one KMV
    sketch per requested column, computed in ONE distributed pass per
    column (distinct 60-bit md5 hashes, K=256 smallest collected —
    the collect is ≤256 longs per column, metadata-sized), stored as
    ``kmv-ndv-v1`` blobs in ``metadata/stats-v{N}.puffin`` and
    registered under ``statistics`` with the spec's entry shape
    (snapshot-id, statistics-path, file sizes, blob-metadata).

    DEVIATION (documented): real engines write
    ``apache-datasketches-theta-v1`` payloads; this engine's sketch
    is a deterministic KMV under the same blob-metadata contract —
    the ``ndv`` property (what CBO consumers actually read) is
    spec-shaped, and puffin readers skip unknown blob types by
    design.  Deterministic md5 hashing keeps the estimate
    value-oracle-checkable cross-engine.  Returns the statistics-file
    path."""
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        IcebergSnapshot,
        _scan,
    )
    from datafusion_catalogprovider_glue_spark.sources.puffin import (
        KMV_BLOB_TYPE,
        KMV_K,
        encode_kmv_blob,
        kmv_estimate,
        write_puffin_file,
    )

    snap = IcebergSnapshot(table_path)
    field_ids = {name: fid for fid, name in snap.current_fields}
    unknown = [c for c in columns if c not in field_ids]
    if unknown:
        raise ValueError(f"no such columns: {unknown}")
    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    snap_id = meta["current-snapshot-id"]
    seq = meta["last-sequence-number"]
    # the live rows, under the current names (the reader's own scan)
    df = _scan(spark, snap, snap.files)
    pairs = []
    for col in columns:
        h = F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 2, 15), 16, 10
        ).cast("long")
        rows = (
            df.select(h.alias("h"))
            .where(F.col("h").isNotNull())
            .distinct()
            .orderBy("h")
            .limit(KMV_K)
            .collect()
        )
        smallest = [r.h for r in rows]
        est = kmv_estimate(smallest, len(smallest))
        pairs.append(
            (
                {
                    "type": KMV_BLOB_TYPE,
                    "fields": [field_ids[col]],
                    "snapshot-id": snap_id,
                    "sequence-number": seq,
                    "properties": {
                        "ndv": str(est),
                        "column": col,
                    },
                },
                encode_kmv_blob(smallest),
            )
        )
    stats_rel = f"metadata/stats-v{version + 1}.puffin"
    stats_path = os.path.join(table_path, stats_rel)
    metas, footer_size = write_puffin_file(stats_path, pairs)
    entry = {
        "snapshot-id": snap_id,
        "statistics-path": stats_rel,
        "file-size-in-bytes": os.path.getsize(stats_path),
        "file-footer-size-in-bytes": footer_size,
        "blob-metadata": metas,
    }
    meta = dict(meta)
    # one statistics entry per snapshot (spec: replace on rewrite)
    meta["statistics"] = [
        s for s in meta.get("statistics") or []
        if s.get("snapshot-id") != snap_id
    ] + [entry]
    _publish_metadata(meta_dir, version, meta)
    return stats_path


def expire_iceberg_snapshots(table_path: str, keep_last: int = 1) -> list[str]:
    """EXPIRE SNAPSHOTS (the Iceberg maintenance API): drop all but
    the last ``keep_last`` snapshots from the metadata and DELETE
    every data file, delete file, manifest and manifest list no
    retained snapshot references — how long-lived tables reclaim the
    storage their REPLACE/merge history pins.  The current snapshot
    is always retained.  After expiry, time travel to an expired
    snapshot id refuses (it is no longer in the table).  Driver-side
    metadata work only (file listings + KB JSON).  Returns the
    deleted paths (relative), sorted."""
    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        decode_container_file,
    )

    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    snaps = meta.get("snapshots") or []
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if len(snaps) <= keep_last:
        return []
    ordered = sorted(snaps, key=lambda s: s.get("sequence-number", 0))
    kept, expired = ordered[-keep_last:], ordered[:-keep_last]
    if not any(
        s["snapshot-id"] == meta["current-snapshot-id"] for s in kept
    ):
        raise ValueError("expiry would drop the current snapshot")
    return _apply_expiry(table_path, meta_dir, version, meta, kept, expired)


def iceberg_max_summary_int(table_path: str, key: str):
    """Largest integer value recorded under ``summary[key]`` across
    the table's snapshots — how an idempotent streaming writer
    recovers its last committed batch id after a restart (Iceberg's
    own Spark streaming sink records its epoch id in the snapshot
    summary the same way).  None when no snapshot carries the key."""
    meta_dir = os.path.join(table_path, "metadata")
    _version, meta = _load_meta(meta_dir)
    best = None
    for s in meta.get("snapshots") or []:
        val = (s.get("summary") or {}).get(key)
        if val is None:
            continue
        iv = int(val)
        if best is None or iv > best:
            best = iv
    return best


def _referenced_files(table_path: str, snap_list) -> set:
    """Every path (manifest list, manifest, data/delete file) reachable
    from the given snapshots — the liveness set expiry and orphan
    cleanup compute on.  Metadata-sized driver work (KB avro files)."""
    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        decode_container_file,
    )

    refs = set()
    for s in snap_list:
        list_rel = s["manifest-list"]
        refs.add(list_rel)
        list_schema, rows = decode_container_file(
            os.path.join(table_path, list_rel)
        )
        names = [f["name"] for f in list_schema["fields"]]
        for r in rows:
            m = dict(zip(names, r))
            refs.add(m["manifest_path"])
            m_schema, m_rows = decode_container_file(
                os.path.join(table_path, m["manifest_path"])
            )
            for mr in m_rows:
                entry = dict(
                    zip([f["name"] for f in m_schema["fields"]], mr)
                )
                refs.add(entry["file_path"])
    return refs


def _apply_expiry(
    table_path: str, meta_dir: str, version: int, meta: dict,
    kept, expired,
) -> list[str]:
    """Shared expiry tail: delete every file only the expired
    snapshots reference, then publish metadata retaining the kept
    ones.  Returns the deleted relative paths, sorted."""
    live = _referenced_files(table_path, kept)
    dead = _referenced_files(table_path, expired) - live
    deleted = []
    for rel in sorted(dead):
        full = os.path.join(table_path, rel)
        if os.path.exists(full):
            os.remove(full)
            deleted.append(rel)
    kept_ids = {s["snapshot-id"] for s in kept}
    meta = dict(meta)
    meta["snapshots"] = [
        s for s in meta.get("snapshots") or []
        if s["snapshot-id"] in kept_ids
    ]
    meta["snapshot-log"] = [
        e
        for e in (meta.get("snapshot-log") or [])
        if e["snapshot-id"] in kept_ids
    ]
    _publish_metadata(meta_dir, version, meta)
    return deleted


def _snapshot_ts(meta: dict, snap: dict) -> int:
    """A snapshot's timestamp: its snapshot-log entry when present
    (main-line commits), else the seq-derived pseudo-timestamp branch/
    staged commits would have logged (the same _next_log_ts base)."""
    for e in meta.get("snapshot-log") or []:
        if e["snapshot-id"] == snap["snapshot-id"]:
            return int(e["timestamp-ms"])
    return 1600000000000 + int(snap.get("sequence-number", 0))


def expire_iceberg_snapshots_policy(
    table_path: str,
    older_than_ms: int,
    retain_last: int = 1,
) -> dict:
    """RETENTION-POLICY expiry (the spec's expireSnapshots shape:
    ``olderThan`` + ``retainLast``): expire snapshots whose timestamp
    is strictly below ``older_than_ms``, but ALWAYS retain (a) the
    most recent ``retain_last`` snapshots, (b) the current snapshot,
    and (c) any snapshot a ref (branch or tag) points at — expiring a
    tagged snapshot would silently break the ref, so refs pin their
    targets exactly as Iceberg's reference retention does.  Returns
    {"expired_ids": [...], "deleted": [...]} so maintenance jobs can
    audit the reclaim.  Keep-last-N expiry is expire_iceberg_snapshots;
    this is its age-based production twin."""
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    snaps = meta.get("snapshots") or []
    ordered = sorted(snaps, key=lambda s: s.get("sequence-number", 0))
    pinned = {meta.get("current-snapshot-id")}
    for ref in (meta.get("refs") or {}).values():
        pinned.add(ref.get("snapshot-id"))
    pinned.update(s["snapshot-id"] for s in ordered[-retain_last:])
    expired = [
        s for s in ordered
        if s["snapshot-id"] not in pinned
        and _snapshot_ts(meta, s) < older_than_ms
    ]
    if not expired:
        return {"expired_ids": [], "deleted": []}
    expired_ids = {s["snapshot-id"] for s in expired}
    kept = [s for s in ordered if s["snapshot-id"] not in expired_ids]
    deleted = _apply_expiry(
        table_path, meta_dir, version, meta, kept, expired
    )
    return {"expired_ids": sorted(expired_ids), "deleted": deleted}


def remove_orphan_iceberg_files(
    table_path: str, older_than_ms: int = None
) -> list[str]:
    """REMOVE ORPHAN FILES (the Iceberg maintenance action): delete
    files under the table location that NO snapshot of the current
    metadata references — the debris failed/aborted commits leave
    behind, which plain expiry never reclaims because no snapshot ever
    referenced it.  Protected: everything reachable from any current
    snapshot (data, delete files, manifests, manifest lists) and the
    metadata directory's version files (``v*.metadata.json``,
    ``version-hint.text``).  ``older_than_ms`` (epoch millis, against
    file mtime) is the spec's safety horizon so in-flight writers'
    staging files survive; None applies no age filter.  Returns the
    deleted relative paths, sorted.  Driver-side metadata work — the
    listing is the same walk a real maintenance job distributes."""
    meta_dir = os.path.join(table_path, "metadata")
    _version, meta = _load_meta(meta_dir)
    live = _referenced_files(table_path, meta.get("snapshots") or [])
    deleted = []
    for root, _dirs, files in os.walk(table_path):
        for name in files:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table_path)
            if rel in live:
                continue
            if rel.startswith("metadata") and (
                name.endswith(".metadata.json")
                or name == "version-hint.text"
            ):
                continue
            if older_than_ms is not None and (
                os.path.getmtime(full) * 1000 >= older_than_ms
            ):
                continue
            os.remove(full)
            deleted.append(rel)
    return sorted(deleted)


def evolve_iceberg_schema(
    table_path: str,
    new_schema: T.StructType,
    renames: dict = None,
) -> int:
    """SCHEMA EVOLUTION commit (the write half of the reader's
    §column-projection support): record ``new_schema`` as a NEW
    versioned schema and make it current.  Columns keep their FIELD
    IDs — matched by name, or through ``renames`` ({old: new}) for
    renamed columns — so data files written under prior schemas keep
    resolving (renamed columns carry old-file data, added columns
    read as null there).  Added columns take fresh ids above every id
    any historical schema used; type changes are refused (widening is
    out of scope).  Appends after the evolution validate against the
    NEW schema.  Metadata-only: no data file is touched.  Returns the
    new schema-id."""
    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    schemas = meta.get("schemas") or [meta.get("schema")]
    cur_id = meta.get("current-schema-id", 0)
    cur = next(s for s in schemas if s.get("schema-id", 0) == cur_id)
    by_name = {f["name"]: f for f in cur["fields"]}
    inv = {new: old for old, new in (renames or {}).items()}
    unknown = [old for old in (renames or {}) if old not in by_name]
    if unknown:
        raise ValueError(f"rename of unknown columns: {unknown}")
    next_id = max(
        f["id"] for s in schemas for f in s.get("fields", [])
    )
    fields = []
    for f in new_schema.fields:
        simple = f.dataType.simpleString()
        if simple not in _SPARK_TO_ICEBERG:
            raise NotImplementedYet(
                f"iceberg writer subset: unsupported type {simple!r} "
                f"for {f.name!r}"
            )
        src_name = inv.get(f.name, f.name)
        old = by_name.get(src_name)
        if old is not None:
            if old["type"] != _SPARK_TO_ICEBERG[simple]:
                raise NotImplementedYet(
                    f"schema evolution subset: type change "
                    f"{old['type']} -> {_SPARK_TO_ICEBERG[simple]} for "
                    f"{src_name!r} (promotion not supported)"
                )
            fields.append(
                {
                    "id": old["id"],
                    "name": f.name,
                    "required": False,
                    "type": old["type"],
                }
            )
        else:
            next_id += 1
            fields.append(
                {
                    "id": next_id,
                    "name": f.name,
                    "required": False,
                    "type": _SPARK_TO_ICEBERG[simple],
                }
            )
    new_sid = max(s.get("schema-id", 0) for s in schemas) + 1
    meta = dict(meta)
    meta["schemas"] = list(schemas) + [
        {"schema-id": new_sid, "type": "struct", "fields": fields}
    ]
    meta["current-schema-id"] = new_sid
    _publish_metadata(meta_dir, version, meta)
    return new_sid


def _read_current_meta(table_path: str) -> tuple[str, int, dict]:
    meta_dir = os.path.join(table_path, "metadata")
    version, meta = _load_meta(meta_dir)
    return meta_dir, version, dict(meta)


def _publish_metadata(meta_dir: str, version: int, meta: dict) -> None:
    """The publish tail EVERY commit uses: record the outgoing
    metadata file in ``metadata-log`` (spec §table-metadata: "a list
    of previous metadata files" — what the metadata_log_entries
    metadata table and catalog rollback tooling read), then write the
    next metadata.json + hint swap atomically.  The metadata file is
    claimed put-if-absent — the commit point: of two writers that read
    the same version, the second gets ConcurrentWriteError and the
    first's snapshot stays.  Timestamps are version-derived
    (deterministic), clamped strictly increasing."""
    new_version = version + 1
    meta = dict(meta)
    prev = os.path.join(meta_dir, f"v{version}.metadata.json")
    if os.path.exists(prev):
        log = list(meta.get("metadata-log") or [])
        last = log[-1]["timestamp-ms"] if log else 0
        log.append(
            {
                "timestamp-ms": max(1600000000000 + version, last + 1),
                "metadata-file": f"metadata/v{version}.metadata.json",
            }
        )
        meta["metadata-log"] = log
    path = os.path.join(meta_dir, f"v{new_version}.metadata.json")
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    claim(tmp, path)
    hint = os.path.join(meta_dir, "version-hint.text")
    tmp_hint = hint + ".tmp"
    with open(tmp_hint, "w") as fh:
        fh.write(str(new_version))
    os.rename(tmp_hint, hint)


def tag_iceberg(
    table_path: str, name: str, snapshot_id: int = None,
    ref_type: str = "tag",
) -> int:
    """Create a REF (spec §refs): a named, immutable TAG (default) or
    a mutable BRANCH pointing at ``snapshot_id`` (default: the current
    snapshot).  Pure metadata commit — no data file moves.  Tags are
    how production tables pin audited versions ("the Q3 training
    snapshot") without freezing physical files; reads resolve them via
    ``read_iceberg(..., ref=name)``.  Refuses to move an existing tag
    (tags are immutable per spec; drop-and-recreate is the explicit
    escape hatch real engines require too)."""
    meta_dir, version, meta = _read_current_meta(table_path)
    refs = dict(meta.get("refs") or {})
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    known = [s["snapshot-id"] for s in meta.get("snapshots") or []]
    if sid not in known:
        raise ValueError(f"snapshot {sid} not in table (snapshots: {known})")
    have = refs.get(name)
    if have is not None:
        if have.get("type") == "tag":
            raise ValueError(f"tag {name!r} exists (tags are immutable)")
        if ref_type == "tag":
            # a tag may never clobber a BRANCH ref either — that would
            # silently discard a WAP staging head; resetting a branch
            # is branch_iceberg's explicit job
            raise ValueError(
                f"ref {name!r} exists as a branch — use branch_iceberg "
                "to reset it or pick another tag name"
            )
    refs[name] = {"snapshot-id": sid, "type": ref_type}
    meta["refs"] = refs
    _publish_metadata(meta_dir, version, meta)
    return sid


def branch_iceberg(
    table_path: str, name: str, snapshot_id: int = None
) -> int:
    """Create (or reset) a BRANCH ref — the staging pointer of the
    write-audit-publish pattern.  ``append_iceberg(..., branch=name)``
    then stacks commits on the branch without touching main."""
    return tag_iceberg(table_path, name, snapshot_id, ref_type="branch")


def publish_iceberg_branch(table_path: str, branch: str) -> int:
    """FAST-FORWARD main to a branch head (Iceberg's
    ``fast_forward('main', branch)`` — the PUBLISH step of
    write-audit-publish): verified-ancestor move of
    ``current-snapshot-id`` to the branch's snapshot.  Refuses unless
    main's head is an ancestor of the branch head (walked over the
    snapshots' ``parent-snapshot-id`` linkage) — a diverged main must
    be merged by a data commit, not silently overwritten; that
    refusal is exactly what makes the audit step trustworthy.  The
    branch ref stays (subsequent stages keep appending to it).
    Returns the published snapshot id."""
    meta_dir, version, meta = _read_current_meta(table_path)
    refs = dict(meta.get("refs") or {})
    ref = refs.get(branch)
    if ref is None or ref.get("type") != "branch":
        raise ValueError(f"no branch ref {branch!r} (refs: {sorted(refs)})")
    head = ref["snapshot-id"]
    main_head = meta.get("current-snapshot-id")
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    cursor = head
    seen = set()
    while cursor is not None and cursor not in seen:
        if cursor == main_head:
            break
        seen.add(cursor)
        cursor = (by_id.get(cursor) or {}).get("parent-snapshot-id")
    else:
        raise ValueError(
            f"cannot fast-forward: main ({main_head}) is not an ancestor "
            f"of branch {branch!r} head ({head})"
        )
    meta["current-snapshot-id"] = head
    seq = by_id[head]["sequence-number"]
    meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": _next_log_ts(meta, seq), "snapshot-id": head}
    ]
    _publish_metadata(meta_dir, version, meta)
    return head


def rollback_iceberg(table_path: str, seq: int = None,
                     snapshot_id: int = None) -> int:
    """ROLLBACK main to an earlier snapshot (Iceberg's
    ``rollback_to_snapshot`` — the incident-response primitive): a
    pure metadata commit that moves ``current-snapshot-id`` back to a
    CURRENT ANCESTOR and records the move in the ``snapshot-log``
    (which is exactly what the ``history`` metadata table replays —
    the rolled-past snapshot stays in the table but is no longer a
    current ancestor).  Refuses a target that is not an ancestor of
    the current head: rolling "back" to a side branch would silently
    rewrite lineage; real engines require ``set_current_snapshot``
    for that explicit move.  Target by ``seq`` (deterministic in
    fixtures) or ``snapshot_id``."""
    meta_dir, version, meta = _read_current_meta(table_path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    if snapshot_id is None:
        match = [s for s in snaps.values() if s["sequence-number"] == seq]
        if not match:
            raise ValueError(f"no snapshot with sequence-number {seq}")
        snapshot_id = match[0]["snapshot-id"]
    if snapshot_id not in snaps:
        raise ValueError(f"snapshot {snapshot_id} not in table")
    cursor = meta.get("current-snapshot-id")
    seen = set()
    while cursor is not None and cursor not in seen:
        if cursor == snapshot_id:
            break
        seen.add(cursor)
        cursor = (snaps.get(cursor) or {}).get("parent-snapshot-id")
    else:
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of the current "
            "head — rollback must stay on the current lineage"
        )
    log = list(meta.get("snapshot-log") or [])
    last_ts = log[-1]["timestamp-ms"] if log else 1600000000000
    meta["snapshot-log"] = log + [
        {"timestamp-ms": last_ts + 1, "snapshot-id": snapshot_id}
    ]
    meta["current-snapshot-id"] = snapshot_id
    _publish_metadata(meta_dir, version, meta)
    return snapshot_id
