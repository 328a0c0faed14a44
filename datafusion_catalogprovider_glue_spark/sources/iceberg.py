"""Iceberg-style snapshot reader — the second open-table-format source.

The reference reads exactly one table format beyond plain files: Delta,
via the deltalake crate's own ``_delta_log`` replay (glue.rs:214-240).
This module extends the same self-reading approach to the OTHER open
table format, Apache Iceberg (spec: https://iceberg.apache.org/spec/),
without requiring the iceberg-spark runtime JAR:

    metadata/version-hint.text  →  metadata/v<N>.metadata.json
      →  snapshot (current-snapshot-id, or a pinned one = time travel)
      →  manifest list (an Avro container file)
      →  manifests (Avro) with per-data-file entries
      →  parquet scan over the live files

Manifests are decoded with the built-in Avro codec
(sources/avro_fallback.py), mirroring how the Delta path self-reads
its JSON log.  Scope is a SUBSET of the spec, mirroring the Delta
reader's scoping: v2 metadata, unpartitioned data files, entry
``status`` handling (0=EXISTING / 1=ADDED kept, 2=DELETED dropped),
flat manifest records carrying the spec's field *names*
(manifest_path; status, file_path, file_format, record_count, plus
the v2 ``content`` discriminator and optional ``sequence_number``)
without the spec's nested ``data_file`` struct or field-id metadata.
Both v2 row-level delete kinds are applied merge-on-read and
SEQUENCE-NUMBER SCOPED per spec: positional deletes as a (file_path,
pos) join applying only where delete seq >= data seq (same-commit
deletes apply, re-added files survive), equality deletes as a
null-safe anti join on the delete file's columns applying only where
delete seq > data seq.  Schema comes from the Iceberg schema JSON in
the metadata file.

Scale shape is identical to Delta's: the metadata chain is a
driver-side read of KB-sized files (manifest lists exist precisely so
planners can prune manifests without reading them all), and the data
files fan out to executors as an ordinary multi-file parquet scan.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import NotImplementedYet
from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
    decode_container_file,
)
from datafusion_catalogprovider_glue_spark.sources.object_store import (
    file_path_col,
    norm_file_path,
)
from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    may_match,
)

_ICEBERG_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    # spec: timestamptz is UTC-adjusted — Spark's session-tz TimestampType
    "timestamptz": T.TimestampType(),
    "binary": T.BinaryType(),
}

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2


def _iceberg_schema_to_spark(schema: dict) -> T.StructType:
    fields = []
    for f in schema.get("fields", []):
        t = f["type"]
        if not isinstance(t, str) or t.startswith("decimal"):
            raise NotImplementedYet(
                f"iceberg reader subset: unsupported type {t!r} for {f['name']!r}"
            )
        # every field nullable, matching the catalog's Glue-derived
        # schemas (glue.rs:535) regardless of Iceberg's `required`
        fields.append(T.StructField(f["name"], _ICEBERG_TO_SPARK[t], True))
    return T.StructType(fields)


def _named(schema: dict, row: tuple) -> dict:
    return {f["name"]: v for f, v in zip(schema["fields"], row)}


class IcebergSnapshot:
    """Resolved file set + schema of an Iceberg table at a snapshot."""

    def __init__(self, table_path: str, snapshot_id: Optional[int] = None):
        self.table_path = table_path
        meta_dir = os.path.join(table_path, "metadata")
        with open(os.path.join(meta_dir, "version-hint.text")) as f:
            version = int(f.read().strip())
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
            meta = json.load(f)
        # format-version gate (spec §Table Metadata): v3 is served for
        # its DELETION-VECTOR feature only — every other v3-only
        # surface refuses loudly rather than misreading (the same
        # discipline as Delta's readerFeatures gate)
        fv = int(meta.get("format-version") or 1)
        if fv > 3:
            raise NotImplementedYet(
                f"iceberg reader subset: format-version {fv} > 3"
            )
        if fv >= 3:
            if meta.get("row-lineage"):
                raise NotImplementedYet(
                    "iceberg reader subset: v3 row-lineage tables"
                )
            for s in meta.get("schemas") or [meta.get("schema")] or []:
                for fld in (s or {}).get("fields", []):
                    if "initial-default" in fld or "write-default" in fld:
                        raise NotImplementedYet(
                            "iceberg reader subset: v3 field default "
                            f"values (column {fld.get('name')!r})"
                        )

        schemas = meta.get("schemas") or [meta.get("schema")]
        current_schema_id = meta.get("current-schema-id", 0)
        schema_json = next(
            (s for s in schemas if s.get("schema-id", 0) == current_schema_id),
            schemas[0],
        )
        self.schema = _iceberg_schema_to_spark(schema_json)
        # schema-EVOLUTION support: the current fields (id, name, type)
        # and, per field id, every name the field has carried across
        # historical schemas (oldest → newest).  Resolution maps a data
        # file written under an old schema to the current one by field
        # id — the spec's column-projection rule (renames resolve, adds
        # read as null).
        self.current_fields = [
            (f["id"], f["name"]) for f in schema_json.get("fields", [])
        ]
        self.id_names: dict[int, list[str]] = {}
        for s in sorted(schemas, key=lambda s: s.get("schema-id", 0)):
            for f in s.get("fields", []):
                names = self.id_names.setdefault(f["id"], [])
                if f["name"] not in names:
                    names.append(f["name"])

        # PARTITION SPECS (spec §partition-specs): ALL of them, keyed
        # by spec-id — a long-lived table's spec EVOLVES (day → hour,
        # add bucket), and each manifest prunes through the spec it
        # was written under, not the current default.  Tables written
        # before spec recording (or by hand) have none — their
        # manifest tuples are identity-keyed by column name and prune
        # unchanged.
        id_to_name = {fid: names[-1] for fid, names in self.id_names.items()}
        self.partition_specs: dict[int, list[dict]] = {}
        for s in meta.get("partition-specs") or []:
            self.partition_specs[s.get("spec-id", 0)] = [
                {
                    "name": f["name"],
                    "transform": f.get("transform", "identity"),
                    "source": id_to_name.get(f.get("source-id")),
                }
                for f in s.get("fields", [])
            ]
        self.default_spec_id: int = meta.get("default-spec-id", 0)
        # the default spec — the fold for files whose manifest predates
        # spec-id recording
        self.partition_spec: list[dict] = self.partition_specs.get(
            self.default_spec_id, []
        )

        want = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
        snap = next(
            (s for s in meta["snapshots"] if s["snapshot-id"] == want), None
        )
        if snap is None:
            known = [s["snapshot-id"] for s in meta["snapshots"]]
            raise NotImplementedYet(
                f"snapshot {want} not in table (snapshots: {known})"
            )

        list_schema, list_rows = decode_container_file(
            os.path.join(table_path, snap["manifest-list"])
        )
        self.files: list[str] = []
        # (path, sequence_number) for v2 POSITIONAL delete files: the
        # spec applies a position delete to data files with sequence
        # number <= the delete file's (same-commit deletes apply; a
        # file re-added at a HIGHER sequence number keeps its rows).
        self.delete_files: list[tuple[str, int]] = []
        # (puffin_path, content_offset, content_size, referenced data
        # file, sequence_number) for v3 DELETION VECTORS — puffin-blob
        # position deletes, scoped exactly like delete_files
        self.dv_entries: list[tuple[str, int, int, str, int]] = []
        # (path, sequence_number) for data files and v2 EQUALITY
        # delete files; the spec applies an equality delete only to
        # data files with a STRICTLY SMALLER sequence number (a file
        # re-added after the delete keeps its rows).  Entries without
        # the optional `sequence_number` field default to 0.
        self.data_seq: list[tuple[str, int]] = []
        self.eq_deletes: list[tuple[str, int]] = []
        # path -> partition-value dict from the manifest's optional
        # `partition` field (JSON), keyed by PARTITION FIELD name.
        # Iceberg plans PARTITION PRUNING from manifest metadata
        # without opening data files — all spec transforms (identity /
        # bucket / truncate / temporal) via partition_spec above; the
        # source columns themselves are also stored in the data files
        # per spec, so reading is unchanged.
        self.partitions: dict[str, dict] = {}
        # path -> spec-id of the MANIFEST that listed the file (spec
        # §manifest-lists `partition_spec_id`); pruning folds each
        # file's filter through ITS spec.  Lists written before spec
        # evolution landed lack the field — their files fold through
        # the default spec, the pre-evolution behavior.
        self.spec_of: dict[str, int] = {}
        # path -> (lower_bounds, upper_bounds) column-value dicts from
        # the manifest (spec §manifests) — file-level stats pruning;
        # files without recorded bounds are conservatively kept
        self.bounds: dict[str, tuple] = {}
        for list_row in list_rows:
            named_row = _named(list_schema, list_row)
            manifest_path = named_row["manifest_path"]
            m_spec_id = named_row.get("partition_spec_id")
            m_schema, m_rows = decode_container_file(
                os.path.join(table_path, manifest_path)
            )
            for m_row in m_rows:
                entry = _named(m_schema, m_row)
                if entry["status"] == STATUS_DELETED:
                    continue
                fmt = (entry.get("file_format") or "PARQUET").upper()
                path = os.path.join(table_path, entry["file_path"])
                seq = int(entry.get("sequence_number") or 0)
                # spec v2 manifest `content`: 0 = data, 1 = position
                # deletes, 2 = equality deletes
                content = entry.get("content") or 0
                if fmt != "PARQUET" and not (
                    fmt == "PUFFIN" and content == 1
                ):
                    raise NotImplementedYet(
                        f"iceberg reader subset: {fmt} data files"
                    )
                if content == 0:
                    self.files.append(path)
                    self.data_seq.append((path, seq))
                    if m_spec_id is not None:
                        self.spec_of[path] = int(m_spec_id)
                    part = entry.get("partition")
                    if part:
                        self.partitions[path] = (
                            json.loads(part) if isinstance(part, str) else part
                        )
                    lo = entry.get("lower_bounds")
                    hi = entry.get("upper_bounds")
                    if lo and hi:
                        self.bounds[path] = (json.loads(lo), json.loads(hi))
                elif content == 1:
                    ref = entry.get("referenced_data_file")
                    if ref:
                        # v3 DELETION VECTOR: a puffin blob at
                        # (content_offset, content_size_in_bytes)
                        # masking ONE data file
                        self.dv_entries.append(
                            (
                                path,
                                int(entry.get("content_offset") or 0),
                                int(entry.get("content_size_in_bytes") or 0),
                                ref,
                                seq,
                            )
                        )
                    else:
                        self.delete_files.append((path, seq))
                else:
                    self.eq_deletes.append((path, seq))
        if self.dv_entries and self.delete_files:
            # spec v3: a DV supersedes the file's position deletes and
            # a data file carries at most one DV — a table mixing live
            # v2 delete files with DVs is outside this reader's subset
            raise NotImplementedYet(
                "iceberg reader subset: table mixes v3 deletion "
                "vectors with v2 position-delete files"
            )
        seen_ref: set = set()
        for _p, _o, _s, ref, _q in self.dv_entries:
            if ref in seen_ref:
                raise NotImplementedYet(
                    f"iceberg reader subset: data file {ref!r} carries "
                    "more than one deletion vector (spec v3 allows one)"
                )
            seen_ref.add(ref)
        self.files.sort()
        self.data_seq.sort()
        self.delete_files.sort()
        self.eq_deletes.sort()
        self.dv_entries.sort()


def _resolve_file_projections(
    snap: "IcebergSnapshot", files: list[str]
) -> list[tuple[tuple, list[str]]]:
    """Per-file SCHEMA-EVOLUTION resolution (spec §column-projection):
    map each data file's physical columns to the CURRENT schema by
    field id — a renamed column keeps its id, so old files keep
    serving it; a column added after a file was written reads as null
    in that file.

    The mapping comes from the parquet footer (a KB-sized driver-side
    read, the same cost class as the metadata chain — real Iceberg
    readers open footers for field-id/stat metadata too): when the
    file carries explicit ``PARQUET:field_id`` metadata (files written
    by Iceberg writers), ids match directly; otherwise each current
    field resolves by name against the file, falling back through the
    field id's HISTORICAL names, newest first (files written before a
    rename carry the old name).  Files with identical resolutions
    group into ONE multi-file scan, so an unevolved table — the
    overwhelmingly common case — stays a single ``spark.read.parquet``
    with zero extra plan nodes, and K historical schemas cost at most
    K scan branches in a union."""
    import pyarrow.parquet as pq

    groups: dict[tuple, list[str]] = {}
    for path in files:
        arrow = pq.read_schema(path)
        file_names = set(arrow.names)
        file_ids = {}
        for fld in arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                file_ids[int(fid)] = fld.name
        sig = []
        for fid, name in snap.current_fields:
            if fid in file_ids:
                old = file_ids[fid]
            elif name in file_names:
                old = name
            else:
                old = next(
                    (
                        nm
                        for nm in reversed(snap.id_names.get(fid, []))
                        if nm in file_names
                    ),
                    None,
                )
            sig.append((old, name))
        groups.setdefault(tuple(sig), []).append(path)
    # deterministic group order (by first file path)
    return sorted(groups.items(), key=lambda kv: kv[1][0])


def iceberg_snapshot_at_timestamp(table_path: str, ts_ms: int) -> int:
    """TIMESTAMP AS OF resolution (the Iceberg API's
    ``snapshotIdAsOfTime``): the snapshot-log entry with the LARGEST
    timestamp-ms <= the query time.  The log is the spec's authority
    for when each snapshot became current — a rollback re-appends an
    older snapshot with a NEW timestamp, so walking snapshots by
    their own commit times would resolve a rolled-back table
    wrongly."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    log = meta.get("snapshot-log") or []
    if not log:
        raise NotImplementedYet(
            f"no snapshot-log at {table_path!r} — timestamp travel "
            "needs the log"
        )
    eligible = [e for e in log if int(e["timestamp-ms"]) <= ts_ms]
    if not eligible:
        raise NotImplementedYet(
            f"timestamp {ts_ms} precedes the first snapshot-log entry "
            f"({log[0]['timestamp-ms']})"
        )
    return int(eligible[-1]["snapshot-id"])


def iceberg_ref_snapshot(table_path: str, name: str) -> int:
    """Resolve a named REF (spec §refs — tag or branch) to its
    snapshot id.  Metadata-only."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        refs = json.load(f).get("refs") or {}
    if name not in refs:
        raise NotImplementedYet(
            f"no ref {name!r} in table (refs: {sorted(refs)})"
        )
    return int(refs[name]["snapshot-id"])


def read_iceberg(
    spark: SparkSession,
    table_path: str,
    snapshot_id: Optional[int] = None,
    partition_filter: Optional[dict] = None,
    ref: Optional[str] = None,
    stats_filter: Optional[dict] = None,
    as_of_timestamp_ms: Optional[int] = None,
) -> DataFrame:
    """Load an Iceberg table snapshot (current, or a pinned
    snapshot-id, ref or timestamp — time travel): the files that
    survive manifest-level pruning, read through :func:`_scan`, which
    applies the snapshot's position deletes, deletion vectors and
    equality deletes."""
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR ref, not both")
        snapshot_id = iceberg_ref_snapshot(table_path, ref)
    if as_of_timestamp_ms is not None:
        if snapshot_id is not None:
            raise ValueError(
                "pass snapshot_id/ref OR as_of_timestamp_ms, not both"
            )
        snapshot_id = iceberg_snapshot_at_timestamp(
            table_path, as_of_timestamp_ms
        )
    snap = IcebergSnapshot(table_path, snapshot_id)
    files = snap.files
    if stats_filter:
        # file-level pruning on the manifests' lower/upper_bounds
        # ({col: value} point or {col: (lo, hi)} inclusive range) —
        # spec scan planning: a file whose recorded range cannot
        # intersect the filter is skipped without being opened; files
        # without bounds are KEPT (always result-preserving)
        files = [
            f for f in files
            if may_match(*snap.bounds.get(f, ({}, {})), stats_filter)
        ]
    if partition_filter:
        # manifest-level pruning: filter keys are SOURCE column values;
        # each folds through the table's partition-spec transform
        # (identity / bucket[N] / truncate[W] / year/month/day/hour —
        # sources/iceberg_transforms.py, driver-side scalar half) into
        # the manifest-tuple value, then a file survives only if its
        # tuple matches every folded key (files without partition
        # metadata are conservatively kept).  This is exactly how real
        # Iceberg planners skip a days(ts)-partitioned table's
        # non-matching days without opening any file.
        from datafusion_catalogprovider_glue_spark.sources.iceberg_transforms import (
            apply_transform,
        )

        # per-SPEC fold cache: each file folds the filter through the
        # spec ITS manifest was written under (spec evolution — a
        # days(ts) file and an hours(ts) file of the same table prune
        # through different transforms); files from pre-evolution
        # lists fold through the default spec.
        checks_by_spec: dict[int, list[tuple]] = {}

        def _checks_for(spec_id: int) -> list[tuple]:
            if spec_id not in checks_by_spec:
                spec_fields = snap.partition_specs.get(
                    spec_id, snap.partition_spec
                )
                by_source = {f["source"]: f for f in spec_fields}
                checks = []
                for k, v in partition_filter.items():
                    spec_field = by_source.get(k)
                    if spec_field is None:
                        checks.append((k, v))  # identity / legacy key
                    else:
                        checks.append(
                            (
                                spec_field["name"],
                                apply_transform(spec_field["transform"], v),
                            )
                        )
                checks_by_spec[spec_id] = checks
            return checks_by_spec[spec_id]

        files = [
            f
            for f in files
            if all(
                snap.partitions.get(f, {}).get(name, want) == want
                for name, want in _checks_for(
                    snap.spec_of.get(f, snap.default_spec_id)
                )
            )
        ]
    if not files:
        return spark.createDataFrame([], snap.schema)
    return _scan(spark, snap, files)


def _dv_rows(spark: SparkSession, snap: "IcebergSnapshot") -> DataFrame:
    """``(_file, _pos, _del_seq)`` of every row the snapshot's v3
    DELETION VECTORS mask: the KB-sized puffin blob descriptors go to
    the executors and positions expand WHERE the tasks run
    (mapInPandas), so the driver never holds a row-index set."""
    import pandas as pd

    desc = spark.createDataFrame(
        list(snap.dv_entries),
        "puf string, off long, length long, ref string, dseq int",
    ).repartition(min(len(snap.dv_entries), 32))

    def _expand(pdfs):
        from datafusion_catalogprovider_glue_spark.sources.puffin import (
            read_puffin_dv,
        )

        for pdf in pdfs:
            for row in pdf.to_dict("records"):
                positions = read_puffin_dv(row["puf"], row["off"], row["length"])
                yield pd.DataFrame(
                    {
                        "_file": row["ref"],
                        "_pos": pd.Series(positions, dtype="int64"),
                        "_del_seq": row["dseq"],
                    }
                )

    return desc.mapInPandas(
        _expand, "_file string, _pos long, _del_seq int"
    ).withColumn("_file", file_path_col(F.col("_file"), snap.table_path))


def _scan(
    spark: SparkSession,
    snap: "IcebergSnapshot",
    files: list[str],
    identity: bool = False,
) -> DataFrame:
    """The live rows of ``files`` (data files of ``snap``) under the
    current schema — the one place that decides them, for the reader
    and for the merges.  ``identity`` keeps each row's ``_file``
    (normalized path) and ``_pos`` (``_metadata.row_index``).

    Each group of :func:`_resolve_file_projections` is one multi-file
    read projected to the current names.  Deletes apply through the
    file source's ``_metadata`` struct: every data row already knows
    its (file_path, row_index), so positional deletes and deletion
    vectors are ONE broadcast left anti join against the loaded
    delete set — no per-file branching, no row numbering pass, and the
    delete side is small by construction (Iceberg compacts it away).
    Matching is on the FULL path, normalized scheme-less and resolved
    against the table root when a delete file records a relative path,
    so two data files sharing a basename never collide.  Every delete
    is SEQUENCE-NUMBER SCOPED per spec: a position delete or DV applies
    to data files with sequence number <= its own, an equality delete
    only to strictly smaller ones, so a data file re-added at a higher
    sequence number keeps its rows (gate key scan_iceberg_pos_delete_seq
    pins exactly that re-add)."""
    has_deletes = bool(snap.delete_files or snap.eq_deletes or snap.dv_entries)
    cols = snap.schema.names
    type_of = {f.name: f.dataType for f in snap.schema.fields}
    meta = [
        file_path_col(F.col("_metadata.file_path")).alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    ] if identity or has_deletes else []
    with_pos = None
    for sig, paths in _resolve_file_projections(snap, files):
        read_schema = T.StructType(
            [
                T.StructField(old, type_of[new], True)
                for old, new in sig
                if old is not None
            ]
        )
        proj = [
            (
                F.col(old).alias(new)
                if old is not None
                else F.lit(None).cast(type_of[new]).alias(new)
            )
            for old, new in sig
        ]
        df = spark.read.schema(read_schema).parquet(*paths).select(*proj, *meta)
        with_pos = df if with_pos is None else with_pos.unionByName(df)
    if not has_deletes:
        return with_pos

    # The data-file→sequence-number map is DRIVER-KNOWN metadata (it
    # came out of the manifests just parsed).  Up to a bounded file
    # count, render it as one literal map expression parsed JVM-side:
    # the seq-scoping predicate can then evaluate on the TINY delete
    # side (or inline on the corpus for equality deletes) instead of
    # joining a broadcast (file, seq) frame against the corpus — one
    # broadcast exchange job fewer per action.  Above the bound the
    # expression tree would dominate planning, so the broadcast-join
    # path below stays (at that scale the extra exchange is noise).
    seq_pairs = [
        (norm_file_path(p, snap.table_path), int(s)) for p, s in snap.data_seq
    ]
    seq_lookup = None
    if 0 < len(seq_pairs) <= 1024:
        def _esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "\\'")

        seq_lookup = F.expr(
            "map("
            + ",".join(f"'{_esc(p)}',{s}" for p, s in seq_pairs)
            + ")"
        )
    seq_df = None
    if seq_lookup is None:
        seq_df = F.broadcast(
            spark.createDataFrame(seq_pairs, "_file string, _if_seq int")
        )
    if snap.delete_files or snap.dv_entries:
        # each delete file carries its sequence number as a literal;
        # a (file, pos) entry kills a data row only when the delete's
        # sequence number >= the data file's (spec: <= comparison on
        # the data side — same-commit deletes apply, re-adds survive).
        # v3 deletion vectors flow through the exact same join.
        del_parts = [
            spark.read.parquet(path).select(
                file_path_col(F.col("file_path"), snap.table_path).alias("_file"),
                F.col("pos").cast("long").alias("_pos"),
                F.lit(seq).alias("_del_seq"),
            )
            for path, seq in snap.delete_files
        ]
        if snap.dv_entries:
            del_parts.append(_dv_rows(spark, snap))
        dels = del_parts[0]
        for p in del_parts[1:]:
            dels = dels.unionByName(p)
        if seq_lookup is not None:
            # seq scoping on the tiny delete side: an entry kills its
            # (file, pos) row iff _del_seq >= the data file's sequence
            # number (missing → 0, matching the old coalesce).  The
            # corpus then sees ONE broadcast left-anti join; anti-join
            # semantics ignore build-side duplicates, so the
            # per-(file,pos) max-seq aggregation is unnecessary too.
            kill = dels.filter(
                F.col("_del_seq")
                >= F.coalesce(seq_lookup[F.col("_file")], F.lit(0))
            ).select("_file", "_pos")
            with_pos = with_pos.join(
                F.broadcast(kill), ["_file", "_pos"], "left_anti"
            )
        else:
            dels = dels.groupBy("_file", "_pos").agg(
                F.max("_del_seq").alias("_del_seq")
            )
            with_pos = (
                with_pos.join(seq_df, "_file", "left")
                .join(F.broadcast(dels), ["_file", "_pos"], "left")
                .filter(
                    F.col("_del_seq").isNull()
                    | (
                        F.col("_del_seq")
                        < F.coalesce(F.col("_if_seq"), F.lit(0))
                    )
                )
                .drop("_del_seq", "_if_seq")
            )
    # EQUALITY deletes (spec §equality-delete-files): a data row is
    # dropped when its values null-safe-match a delete row on the
    # equality-id columns AND the delete file's sequence number is
    # strictly greater than the data file's.  Equality ids are the
    # delete file's own columns (the flat-manifest subset of the
    # spec's `equality_ids` field list).  One broadcast anti join per
    # delete file — corpus rows never shuffle.
    for eq_path, eq_seq in snap.eq_deletes:
        eq = spark.read.parquet(eq_path).distinct()
        if seq_lookup is not None:
            # inline literal lookup instead of a broadcast (file, seq)
            # join against the corpus — one exchange fewer per action
            with_seq = with_pos.withColumn(
                "_if_seq", seq_lookup[F.col("_file")]
            )
        else:
            with_seq = with_pos.join(seq_df, "_file", "left")
        cond = F.lit(eq_seq) > F.coalesce(F.col("_if_seq"), F.lit(0))
        for c in eq.columns:
            cond = cond & with_seq[c].eqNullSafe(eq[c])
        with_pos = with_seq.join(F.broadcast(eq), cond, "left_anti").drop(
            "_if_seq"
        )
    return with_pos.select(*cols, *(["_file", "_pos"] if identity else []))


def read_iceberg_incremental(
    spark: SparkSession,
    table_path: str,
    from_snapshot: int,
    to_snapshot: int,
) -> DataFrame:
    """INCREMENTAL APPEND scan (the Iceberg API's
    ``appendsBetween(from, to]``): rows from data files present in a
    later snapshot but absent from ``from_snapshot``, each tagged with
    the snapshot that appended it — the change feed a downstream
    pipeline checkpoints on.  Implemented as consecutive snapshot
    file-set differences over the metadata chain (driver-side KBs);
    IO touches ONLY the appended files, read through :func:`_scan`
    (so a range spanning a column rename reads under the current
    names), and an incremental catch-up costs change volume, not
    table size.  Like the real API this is
    defined for append-only ranges: a snapshot that REMOVES files in
    the range (rewrite/compaction) is refused loudly rather than
    silently emitting rewritten rows as new data."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    snaps = meta.get("snapshots") or []
    # COMMIT order, never ID order: real Iceberg snapshot IDs are
    # random longs, so sorting them scrambles the append chain.  v2
    # metadata carries a monotonically increasing per-snapshot
    # sequence-number; older metadata records history in snapshot-log
    # (timestamp-ordered); the snapshots list itself is append-ordered
    # as a last resort.
    if snaps and all("sequence-number" in s for s in snaps):
        chain = [
            s["snapshot-id"]
            for s in sorted(snaps, key=lambda s: s["sequence-number"])
        ]
    elif meta.get("snapshot-log"):
        chain = [e["snapshot-id"] for e in meta["snapshot-log"]]
    else:
        chain = [s["snapshot-id"] for s in snaps]
    if from_snapshot not in chain or to_snapshot not in chain:
        raise NotImplementedYet(
            f"incremental scan: from_snapshot {from_snapshot} not in the "
            f"table's snapshot chain {chain}"
        )
    i0, i1 = chain.index(from_snapshot), chain.index(to_snapshot)
    if i1 < i0:
        raise NotImplementedYet(
            f"incremental scan: to_snapshot {to_snapshot} committed "
            f"before from_snapshot {from_snapshot}"
        )
    ids = chain[i0 : i1 + 1]
    parts = []
    prev_snap = IcebergSnapshot(table_path, ids[0])
    prev = set(prev_snap.files)
    prev_dels = (
        set(prev_snap.delete_files)
        | set(prev_snap.eq_deletes)
        | set(prev_snap.dv_entries)
    )
    for sid in ids[1:]:
        cur_snap = IcebergSnapshot(table_path, sid)
        cur = set(cur_snap.files)
        cur_dels = (
            set(cur_snap.delete_files)
            | set(cur_snap.eq_deletes)
            | set(cur_snap.dv_entries)
        )
        if prev - cur:
            raise NotImplementedYet(
                f"incremental scan: snapshot {sid} removes files "
                "(rewrite/compaction) — appends-only ranges are supported"
            )
        if cur_dels - prev_dels:
            # real appendsBetween refuses non-append snapshots too: a
            # row-level delete commit in range would silently drop its
            # deletes from a files-only diff
            raise NotImplementedYet(
                f"incremental scan: snapshot {sid} adds row-level "
                "delete files — appends-only ranges are supported"
            )
        added = sorted(cur - prev)
        prev_dels = cur_dels
        if added:
            parts.append(
                _scan(spark, cur_snap, added).withColumn(
                    "_snapshot_id", F.lit(sid).cast("long")
                )
            )
        prev = cur
    snap = IcebergSnapshot(table_path, to_snapshot)
    if not parts:
        return spark.createDataFrame(
            [],
            T.StructType(
                snap.schema.fields
                + [T.StructField("_snapshot_id", T.LongType())]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _decode_manifests(table_path: str, manifest_list_rel: str):
    """Yield (manifest_row, entry_row) named dicts for one snapshot's
    manifest list — shared by the metadata tables below.  Metadata
    only: manifest lists and manifests are the avro sidecars, never a
    data file."""
    list_schema, list_rows = decode_container_file(
        os.path.join(table_path, manifest_list_rel)
    )
    for list_row in list_rows:
        named_m = _named(list_schema, list_row)
        m_schema, m_rows = decode_container_file(
            os.path.join(table_path, named_m["manifest_path"])
        )
        for m_row in m_rows:
            yield named_m, _named(m_schema, m_row)


def iceberg_ndv_profile(table_path: str) -> dict[str, int]:
    """Per-column NDV from the table's registered STATISTICS FILE
    (spec §Table Metadata ``statistics``): resolve the entry for the
    CURRENT snapshot (stale entries for expired snapshots are
    ignored), read each blob's ``ndv`` property from the KB-sized
    blob-metadata — no data file is touched, which is the entire
    point of statistics files for CBO planning at 100 TB.  Returns
    {column: ndv} for blobs whose column is resolvable by field id
    (current name) — the shape catalog_column_stats consumers merge."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    current = meta.get("current-snapshot-id")
    entry = next(
        (
            s for s in meta.get("statistics") or []
            if s.get("snapshot-id") == current
        ),
        None,
    )
    if entry is None:
        return {}
    snap = IcebergSnapshot(table_path)
    name_of = {fid: name for fid, name in snap.current_fields}
    out: dict[str, int] = {}
    for blob in entry.get("blob-metadata") or []:
        props = blob.get("properties") or {}
        if "ndv" not in props:
            continue
        fields = blob.get("fields") or []
        if len(fields) != 1 or fields[0] not in name_of:
            continue
        out[name_of[fields[0]]] = int(props["ndv"])
    return out


def iceberg_snapshots_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``snapshots`` METADATA TABLE (Iceberg spec §snapshots;
    ``SELECT * FROM tbl.snapshots`` in engines): one row per snapshot,
    ordered by sequence number, with the summary operation and
    manifest-derived counts — ``added_*`` from entries whose manifest
    was added by THIS snapshot, ``live_*`` from every non-deleted data
    entry visible in the snapshot.  Everything comes from manifest
    statistics (record_count), so the table answers "how big is each
    commit" without opening one data file — exactly why the spec
    stores the counts."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    rows = []
    for snap in sorted(
        meta.get("snapshots") or [], key=lambda s: s["sequence-number"]
    ):
        sid = snap["snapshot-id"]
        op = (snap.get("summary") or {}).get("operation", "unknown")
        added_files = added_rows = live_files = live_rows = 0
        added_deletes = 0
        for named_m, entry in _decode_manifests(
            table_path, snap["manifest-list"]
        ):
            if entry["status"] == STATUS_DELETED:
                continue
            content = entry.get("content") or 0
            mine = named_m.get("added_snapshot_id") == sid
            if content == 0:
                n = int(entry.get("record_count") or 0)
                live_files += 1
                live_rows += n
                if mine:
                    added_files += 1
                    added_rows += n
            elif mine:
                added_deletes += 1
        rows.append(
            (
                int(snap["sequence-number"]), sid, op,
                added_files, added_rows, added_deletes,
                live_files, live_rows,
            )
        )
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("seq", T.LongType(), False),
                T.StructField("snapshot_id", T.LongType(), False),
                T.StructField("operation", T.StringType(), False),
                T.StructField("added_data_files", T.IntegerType(), False),
                T.StructField("added_rows", T.LongType(), False),
                T.StructField("added_delete_files", T.IntegerType(), False),
                T.StructField("live_data_files", T.IntegerType(), False),
                T.StructField("live_rows", T.LongType(), False),
            ]
        ),
    )


def iceberg_files_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``files`` METADATA TABLE: one row per LIVE data file of the
    current snapshot — path, partition tuple (the manifest's JSON,
    verbatim), footer-free record count, sequence number, and the
    spec id the file prunes through.  The manifest stats make
    partition-level capacity queries (rows per partition, files per
    partition — the small-files health check every table owner runs)
    pure metadata reads."""
    snap = IcebergSnapshot(table_path)
    rows = []
    for path, seq in snap.data_seq:
        rel = os.path.relpath(path, table_path)
        part = snap.partitions.get(path)
        rows.append(
            (
                rel,
                json.dumps(part, sort_keys=True) if part else None,
                int(seq),
                int(snap.spec_of.get(path, snap.default_spec_id)),
            )
        )
    counts = {}
    for named_m, entry in _decode_manifests(
        table_path,
        next(
            s for s in _snapshots_meta(table_path)
            if s["snapshot-id"] == snap_current_id(table_path)
        )["manifest-list"],
    ):
        if entry["status"] == STATUS_DELETED or (entry.get("content") or 0):
            continue
        counts[entry["file_path"]] = int(entry.get("record_count") or 0)
    return spark.createDataFrame(
        [
            (rel, part, counts.get(rel, 0), seq, spec_id)
            for rel, part, seq, spec_id in rows
        ],
        T.StructType(
            [
                T.StructField("file_path", T.StringType(), False),
                T.StructField("partition", T.StringType(), True),
                T.StructField("record_count", T.LongType(), False),
                T.StructField("sequence_number", T.LongType(), False),
                T.StructField("spec_id", T.IntegerType(), False),
            ]
        ),
    )


def iceberg_partitions_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``partitions`` METADATA TABLE (Iceberg spec / pyiceberg's
    ``tbl.inspect.partitions()``): one row per distinct (partition
    tuple, spec id) among the LIVE data files of the current snapshot,
    with file and manifest-stat record counts.  Partition tuples
    written under DIFFERENT specs (spec evolution) keep their own
    spec_id row — the unified capacity view a table owner reads before
    deciding to rewrite old-spec files.  Built on the ``files``
    metadata table, so it is a pure metadata read: manifests only,
    never a data file, whatever the table weighs."""
    files = iceberg_files_df(spark, table_path)
    return files.groupBy("partition", "spec_id").agg(
        F.count("*").alias("file_count"),
        F.sum("record_count").alias("record_count"),
    )


def iceberg_history_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``history`` METADATA TABLE (spec §snapshot-log; engines'
    ``tbl.history``): one row per snapshot-log entry — every time a
    snapshot BECAME current, including repeats after a rollback —
    with parent linkage and ``is_current_ancestor`` walked over
    ``parent-snapshot-id`` from the current head.  A snapshot that
    was current but is no longer on the current lineage (rolled
    past) shows ``is_current_ancestor = false``: the audit signal
    that data served from it between its two timestamps is not
    reproducible from the current head."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    ancestors = set()
    cursor = meta.get("current-snapshot-id")
    while cursor is not None and cursor not in ancestors:
        ancestors.add(cursor)
        cursor = (snaps.get(cursor) or {}).get("parent-snapshot-id")
    rows = []
    for i, entry in enumerate(meta.get("snapshot-log") or [], start=1):
        sid = entry["snapshot-id"]
        snap = snaps.get(sid) or {}
        rows.append(
            (
                i,
                int(entry["timestamp-ms"]),
                int(sid),
                snap.get("parent-snapshot-id"),
                int(snap.get("sequence-number") or 0),
                sid in ancestors,
            )
        )
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("ordinal", T.LongType(), False),
                T.StructField("made_current_at_ms", T.LongType(), False),
                T.StructField("snapshot_id", T.LongType(), False),
                T.StructField("parent_id", T.LongType(), True),
                T.StructField("seq", T.LongType(), False),
                T.StructField("is_current_ancestor", T.BooleanType(), False),
            ]
        ),
    )


def iceberg_manifests_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``manifests`` METADATA TABLE (engines' ``tbl.manifests``):
    one row per manifest referenced by the CURRENT snapshot's manifest
    list, with the spec id it was written under, the snapshot that
    added it, and its live data/delete entry + row tallies — the
    fast-append health view (a snapshot accreting hundreds of tiny
    manifests is the signal to rewrite_manifests).  Pure metadata:
    manifest list + manifest Avro headers, never a data file."""
    snap_meta = next(
        s for s in _snapshots_meta(table_path)
        if s["snapshot-id"] == snap_current_id(table_path)
    )
    per_manifest: dict[str, dict] = {}
    for named_m, entry in _decode_manifests(
        table_path, snap_meta["manifest-list"]
    ):
        rel = named_m["manifest_path"]
        rec = per_manifest.setdefault(
            rel,
            {
                "added_snapshot_id": int(
                    named_m.get("added_snapshot_id") or 0
                ),
                "spec_id": int(named_m.get("partition_spec_id") or 0),
                "data_files": 0,
                "data_rows": 0,
                "delete_files": 0,
            },
        )
        if entry["status"] == STATUS_DELETED:
            continue
        if (entry.get("content") or 0) == 0:
            rec["data_files"] += 1
            rec["data_rows"] += int(entry.get("record_count") or 0)
        else:
            rec["delete_files"] += 1
    rows = [
        (
            rel,
            rec["added_snapshot_id"],
            rec["spec_id"],
            rec["data_files"],
            rec["data_rows"],
            rec["delete_files"],
        )
        for rel, rec in sorted(per_manifest.items())
    ]
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("path", T.StringType(), False),
                T.StructField("added_snapshot_id", T.LongType(), False),
                T.StructField("spec_id", T.IntegerType(), False),
                T.StructField("data_files", T.IntegerType(), False),
                T.StructField("data_rows", T.LongType(), False),
                T.StructField("delete_files", T.IntegerType(), False),
            ]
        ),
    )


def iceberg_refs_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``refs`` METADATA TABLE (spec §refs; engines' ``tbl.refs``):
    one row per named ref — tags and branches — plus the implicit
    ``main`` branch at the current head, each with its snapshot id and
    that snapshot's sequence number.  The audit view of "what do our
    pinned names actually point at"; pure metadata."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    seq_of = {
        s["snapshot-id"]: s["sequence-number"]
        for s in meta.get("snapshots") or []
    }
    rows = []
    cur = meta.get("current-snapshot-id")
    if cur is not None:
        rows.append(("main", "branch", int(cur), int(seq_of.get(cur, 0))))
    for name, ref in sorted((meta.get("refs") or {}).items()):
        sid = ref["snapshot-id"]
        rows.append(
            (name, ref.get("type", "branch"), int(sid),
             int(seq_of.get(sid, 0)))
        )
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("name", T.StringType(), False),
                T.StructField("type", T.StringType(), False),
                T.StructField("snapshot_id", T.LongType(), False),
                T.StructField("seq", T.LongType(), False),
            ]
        ),
    )


def iceberg_metadata_log_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``metadata_log_entries`` METADATA TABLE (spec
    §table-metadata ``metadata-log``): one row per PREVIOUS metadata
    file the writer recorded at each commit, plus the current file —
    each resolved (when the file still exists) to the snapshot state
    it pinned: latest sequence number and current snapshot id.  This
    is what catalog tooling walks to roll a table back to an earlier
    METADATA version (a coarser lever than snapshot rollback: it also
    reverts schema/spec/ref changes).  Pure driver-side KB metadata."""
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)

    def _state(m: dict) -> tuple:
        return (
            int(m.get("last-sequence-number") or 0),
            m.get("current-snapshot-id"),
        )

    rows = []
    for i, ent in enumerate(meta.get("metadata-log") or [], start=1):
        rel = ent["metadata-file"]
        full = os.path.join(table_path, rel)
        seq, snap = (None, None)
        if os.path.exists(full):  # expired metadata may be reclaimed
            with open(full) as f:
                seq, snap = _state(json.load(f))
        rows.append(
            (
                i,
                int(ent["timestamp-ms"]),
                os.path.basename(rel),
                seq,
                snap,
                False,
            )
        )
    cur_seq, cur_snap = _state(meta)
    rows.append(
        (
            len(rows) + 1,
            None,
            f"v{version}.metadata.json",
            cur_seq,
            cur_snap,
            True,
        )
    )
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("ordinal", T.LongType(), False),
                T.StructField("timestamp_ms", T.LongType(), True),
                T.StructField("metadata_file", T.StringType(), False),
                T.StructField("latest_seq", T.LongType(), True),
                T.StructField("latest_snapshot_id", T.LongType(), True),
                T.StructField("is_current", T.BooleanType(), False),
            ]
        ),
    )


def _snapshots_meta(table_path: str) -> list[dict]:
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        return json.load(f).get("snapshots") or []


def snap_current_id(table_path: str) -> int:
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        return json.load(f)["current-snapshot-id"]
