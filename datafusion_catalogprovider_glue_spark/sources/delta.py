"""Minimal Delta Lake snapshot reader (SURVEY.md §2-B8).

The reference loads Delta tables by reading ``_delta_log`` through the
deltalake crate (glue.rs:214-240).  The delta-spark JVM package is not
available in this environment, so this module implements the same
capability directly against the OPEN Delta transaction-log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md):

1. read ``_last_checkpoint`` (if present) → base snapshot from the
   checkpoint parquet's ``add`` rows;
2. replay newer ``NNNNNNNNNNNNNNNNNNNN.json`` commits in order,
   applying ``add`` / ``remove`` actions keyed by file path;
3. schema comes from the latest ``metaData`` action — its
   ``schemaString`` IS a Spark StructType JSON, so no translation;
4. partition columns come from ``metaData.partitionColumns`` with
   per-file values in ``add.partitionValues`` (Delta data files do
   not contain partition columns).

Scope: snapshot reads at the latest version or a pinned one
(VERSION AS OF) — a superset of the reference's ``load()``, which is
latest-only — including DELETION VECTORS (sources/dv.py codec; rows
masked via one broadcast (file, row_index) anti join against the
scan's ``_metadata`` struct).  Log parsing is driver-side metadata work
(KBs; the reference does the same); the data read is a normal
distributed parquet scan.  Every read of data files — the snapshot
reader, the change feeds and the writers' identity scan — goes through
one function, ``_scan``, which decides the column binding (column
mapping), the partition literals and the deletion-vector mask.
Partitioned tables are read per partition group with the partition
values attached as literal columns — at 100 TB you'd instead converge
on delta-spark proper, which pushes partition pruning into the log;
the capability boundary is documented, not hidden.
"""

from __future__ import annotations

import json
import os
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import DeltaError
from datafusion_catalogprovider_glue_spark.sources.object_store import (
    file_path_col,
    norm_file_path,
)
from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    may_match,
)

_LOG_DIR = "_delta_log"


def _commit_files(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir(log_dir):
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append((int(stem), os.path.join(log_dir, name)))
    return sorted(out)


_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def _compacted_files(log_dir: str) -> list[tuple[int, int, str]]:
    """(start, end, path) of every log-compaction file
    ``{start}.{end}.compacted.json`` (delta-io PROTOCOL.md §Log
    Compaction) — the third foreign-log artifact class after classic
    and V2 checkpoints; delta-spark emits them and later deletes the
    commits inside the range, so a reader that ignores them replays a
    hole."""
    out = []
    for name in os.listdir(log_dir):
        m = _COMPACTED_RE.match(name)
        if m:
            s, e = int(m.group(1)), int(m.group(2))
            if e < s:
                raise DeltaError(f"invalid compacted log range: {name}")
            out.append((s, e, os.path.join(log_dir, name)))
    return sorted(out)


def _last_checkpoint(log_dir: str) -> Optional[int]:
    p = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.load(f)["version"])


class DeltaSnapshot:
    """Resolved state of a Delta table at its latest version, or at a
    pinned ``version`` (time travel — VERSION AS OF)."""

    def __init__(self, table_path: str, version: Optional[int] = None):
        log_dir = os.path.join(table_path, _LOG_DIR)
        if not os.path.isdir(log_dir):
            raise DeltaError(f"no {_LOG_DIR} at {table_path!r}")
        self.table_path = table_path
        self.schema: Optional[T.StructType] = None
        self.partition_columns: list[str] = []
        self.configuration: dict[str, str] = {}
        # the last protocol action seen during replay (PROTOCOL.md:
        # exactly one is in force at any version).  Checkpoint writers
        # MUST carry this through verbatim — after the spec-legal
        # deletion of pre-checkpoint commits the checkpoint becomes the
        # only protocol record, so writing a hardcoded (1,2) there
        # would silently downgrade a (2,5)/(3,7) table and disarm the
        # _apply_protocol refusal gate for foreign readers.
        self.protocol: Optional[dict] = None
        # appId -> latest txn version (PROTOCOL.md §Transaction
        # Identifiers) — what an idempotent streaming writer consults
        # to skip an already-committed micro-batch after a restart
        self.txns: dict[str, int] = {}
        # path -> partitionValues dict
        self._active: dict[str, dict] = {}
        # path -> deletionVector descriptor (PROTOCOL.md §Deletion
        # Vectors) for files whose latest add carries one
        self._dvs: dict[str, dict] = {}
        # path -> parsed add.stats (numRecords/minValues/maxValues/
        # nullCount) — what stats_filter data skipping prunes on;
        # checkpointed adds (which drop stats here) simply fall back
        # to keep-the-file, never to wrong pruning
        self._stats: dict[str, dict] = {}

        ckpt_version = _last_checkpoint(log_dir)
        commits = _commit_files(log_dir)
        compacted = _compacted_files(log_dir)
        if not commits and ckpt_version is None and not compacted:
            raise DeltaError(f"empty delta log at {table_path!r}")
        last_known = max(
            [v for v, _p in commits] + [e for _s, e, _p in compacted],
            default=ckpt_version if ckpt_version is not None else -1,
        )
        if version is not None and version > last_known:
            raise DeltaError(
                f"version {version} not in log (latest {last_known})"
            )

        use_ckpt = ckpt_version is not None and (
            version is None or ckpt_version <= version
        )
        # the snapshot's resolved version — what an optimistic writer
        # (delta_writer.merge_delta) validates against before committing
        self.version: int = ckpt_version if use_ckpt else -1
        if use_ckpt:
            self._apply_checkpoint(log_dir, ckpt_version)
        commit_map = dict(commits)
        target = version if version is not None else last_known
        v = (ckpt_version + 1) if use_ckpt else 0
        while v <= target:
            if v in commit_map:
                with open(commit_map[v]) as f:
                    for line in f:
                        if line.strip():
                            self._apply_action(json.loads(line))
                self.version = v
                v += 1
                continue
            # commit v was cleaned up: a log-compaction file COVERING v
            # (and not reaching past the pinned target — its reconciled
            # state would leak newer versions) replays the whole range
            # in one read.  s < v is fine even though commits s..v-1
            # were already replayed: the compaction holds the RANGE's
            # reconciled latest action per path (removes kept as
            # tombstones), so re-applying it on top of partial in-range
            # state is an idempotent overwrite — this is what recovers
            # a PARTIALLY cleaned range (first commits survive, a later
            # one deleted: replay enters via the commits, hits the
            # hole, restarts the range from the compaction file).
            cands = [(e, p) for s, e, p in compacted
                     if s <= v <= e and e <= target]
            if cands:
                e, path = max(cands)
                with open(path) as f:
                    for line in f:
                        if line.strip():
                            self._apply_action(json.loads(line))
                self.version = e
                v = e + 1
                continue
            inside = [(s, e) for s, e, _p in compacted if s <= v <= e]
            if inside:
                raise DeltaError(
                    f"version {v} at {table_path!r} was compacted into "
                    f"range {inside[0]} and its commit deleted — a "
                    "snapshot pinned inside the range (range end past "
                    "the pinned version) cannot be reconstructed"
                )
            raise DeltaError(
                f"missing commit {v} in {log_dir!r} (replaying to "
                f"{target}) — refusing a snapshot with a hole in it"
            )
        if self.schema is None:
            raise DeltaError(f"no metaData action found in {log_dir!r}")

    def _apply_checkpoint(self, log_dir: str, version: int) -> None:
        """Replay the checkpoint at ``version``, resolving any of the
        three layouts real writers emit (delta-io PROTOCOL.md
        §Checkpoints):

        * classic single-file ``{v}.checkpoint.parquet`` — what this
          engine's own checkpoint_delta writes;
        * classic multi-part ``{v}.checkpoint.{i:010d}.{n:010d}.parquet``
          — delta-spark's default above a size threshold; the state is
          the UNION of all n parts, and a missing part is corruption
          (refused loudly, never a silent partial snapshot);
        * V2 ``{v}.checkpoint.{uuid}.{parquet|json}`` — the top-level
          file carries checkpointMetadata/protocol/metaData plus
          either inline file actions or ``sidecar`` actions pointing
          at ``_delta_log/_sidecars/*.parquet`` files that hold the
          add/remove rows.
        """
        prefix = f"{version:020d}.checkpoint."
        single = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        if os.path.exists(single):
            self._apply_checkpoint_rows(self._read_action_file(single))
            return
        candidates = sorted(
            n for n in os.listdir(log_dir) if n.startswith(prefix)
        )
        parts = {}
        v2 = []
        for name in candidates:
            m = re.match(
                rf"^{re.escape(prefix)}(\d{{10}})\.(\d{{10}})\.parquet$", name
            )
            if m:
                parts[int(m.group(1))] = (int(m.group(2)), name)
            elif re.match(
                rf"^{re.escape(prefix)}[0-9a-zA-Z-]+\.(parquet|json)$", name
            ):
                v2.append(name)
        if parts:
            n_total = {n for n, _ in parts.values()}
            if len(n_total) != 1 or set(parts) != set(
                range(1, next(iter(n_total)) + 1)
            ):
                raise DeltaError(
                    f"incomplete multi-part checkpoint at v{version}: "
                    f"have parts {sorted(parts)} of {sorted(n_total)}"
                )
            for i in sorted(parts):
                self._apply_checkpoint_rows(
                    self._read_action_file(
                        os.path.join(log_dir, parts[i][1])
                    )
                )
            return
        if v2:
            # at most one v2 checkpoint per version is valid; if a
            # writer raced, any complete one yields the same state —
            # take the lexicographically first for determinism
            top = os.path.join(log_dir, v2[0])
            rows = self._read_action_file(top)
            sidecars = []
            for row in rows:
                sc = row.get("sidecar")
                if sc is not None:
                    sidecars.append(sc["path"])
            self._apply_checkpoint_rows(rows)
            for rel in sidecars:
                sc_path = os.path.join(log_dir, "_sidecars", rel)
                if not os.path.exists(sc_path):
                    raise DeltaError(
                        f"v2 checkpoint sidecar missing: {sc_path!r}"
                    )
                self._apply_checkpoint_rows(self._read_action_file(sc_path))
            return
        raise DeltaError(
            f"missing checkpoint file(s) for version {version} in "
            f"{log_dir!r}"
        )

    @staticmethod
    def _read_action_file(path: str) -> list[dict]:
        """One checkpoint (part/top/sidecar) file → action-row dicts;
        parquet or json-lines, per the V2 spec's format freedom."""
        if path.endswith(".json"):
            out = []
            with open(path) as fh:
                for line in fh:
                    if line.strip():
                        out.append(json.loads(line))
            return out
        import pyarrow.parquet as pq

        return pq.read_table(path).to_pylist()

    def _apply_checkpoint_rows(self, rows: list[dict]) -> None:
        for row in rows:
            for kind in ("protocol", "metaData", "add", "remove", "txn"):
                if row.get(kind) is not None:
                    self._apply_action({kind: row[kind]})

    # reader capabilities for protocol gating (PROTOCOL.md §Protocol
    # Evolution): minReaderVersion 1 = base, 2 = column mapping, 3 =
    # table features, where EVERY listed readerFeature must be
    # understood or the reader must refuse — misreading a table whose
    # feature changes row visibility (e.g. deletionVectors) would
    # silently return wrong data, the worst possible failure mode
    _MAX_READER_VERSION = 3
    _SUPPORTED_READER_FEATURES = frozenset(
        {
            "deletionVectors",   # sources/dv.py codec, DV-masked scans
            "columnMapping",     # name + id modes
            "v2Checkpoint",      # UUID checkpoints + sidecars (r8)
            "timestampNtz",      # TIMESTAMP_NTZ in schemaString
            # r10: ALTER COLUMN TYPE widening — pre-widening files keep
            # their narrow physical type and are read through the
            # current (wider) schema via the parquet reader's widening
            # promotions (SPARK-40876); the recorded delta.typeChanges
            # are validated against _SUPPORTED_WIDENINGS below, so an
            # unknown (e.g. narrowing or decimal) change still refuses
            "typeWidening",
            "typeWidening-preview",
        }
    )
    # the widenings this reader can serve: every pair is a promotion
    # Spark's vectorized parquet reader performs losslessly when the
    # read schema is wider than the footer type (delta-io PROTOCOL.md
    # §Type Widening's integer/float subset; date→timestampNtz and
    # decimal widenings are NOT claimed — tables carrying them refuse)
    _SUPPORTED_WIDENINGS = frozenset(
        {
            ("byte", "short"), ("byte", "integer"), ("byte", "long"),
            ("short", "integer"), ("short", "long"),
            ("integer", "long"),
            ("float", "double"),
            ("byte", "double"), ("short", "double"),
            ("integer", "double"),
        }
    )

    def _apply_protocol(self, protocol: dict) -> None:
        mrv = int(protocol.get("minReaderVersion") or 1)
        if mrv > self._MAX_READER_VERSION:
            raise DeltaError(
                f"delta reader subset: minReaderVersion {mrv} > "
                f"{self._MAX_READER_VERSION} — refusing rather than "
                "misreading a table written under a newer protocol"
            )
        if mrv >= 3:
            features = set(protocol.get("readerFeatures") or [])
            unknown = features - self._SUPPORTED_READER_FEATURES
            if unknown:
                raise DeltaError(
                    "delta reader subset: unsupported readerFeatures "
                    f"{sorted(unknown)} (supported: "
                    f"{sorted(self._SUPPORTED_READER_FEATURES)})"
                )
        self.protocol = {
            k: v for k, v in protocol.items() if v is not None
        }

    def _validate_type_changes(self, schema: T.StructType) -> None:
        """typeWidening gate: every ``delta.typeChanges`` entry in the
        schema's field metadata must be a widening this reader's scan
        actually performs (_SUPPORTED_WIDENINGS) — misreading a
        pre-change file under an unservable conversion would corrupt
        values, so anything else refuses loudly, exactly like the
        readerFeatures gate."""
        def walk(fields, path):
            for f in fields:
                meta = f.metadata or {}
                for ch in meta.get("delta.typeChanges") or []:
                    pair = (ch.get("fromType"), ch.get("toType"))
                    if pair not in self._SUPPORTED_WIDENINGS:
                        raise DeltaError(
                            "delta reader subset: unsupported type "
                            f"change {pair[0]!r} -> {pair[1]!r} on "
                            f"column {'.'.join(path + [f.name])!r} "
                            "(supported widenings: "
                            f"{sorted(self._SUPPORTED_WIDENINGS)})"
                        )
                if isinstance(f.dataType, T.StructType):
                    walk(f.dataType.fields, path + [f.name])

        walk(schema.fields, [])

    def _apply_action(self, action: dict) -> None:
        if "protocol" in action and action["protocol"]:
            self._apply_protocol(dict(action["protocol"]))
        elif "metaData" in action and action["metaData"]:
            meta = action["metaData"]
            schema_str = meta.get("schemaString")
            if isinstance(schema_str, str):
                self.schema = T.StructType.fromJson(json.loads(schema_str))
                self._validate_type_changes(self.schema)
            self.partition_columns = list(meta.get("partitionColumns") or [])
            self.configuration = dict(meta.get("configuration") or {})
            mode = self.configuration.get("delta.columnMapping.mode", "none")
            if mode not in ("none", "name", "id"):
                raise DeltaError(
                    f"delta reader subset: columnMapping.mode={mode!r} "
                    "(supported: none, name, id)"
                )
        elif "add" in action and action["add"]:
            add = action["add"]
            # dict() also normalizes checkpoint-parquet map columns,
            # which pyarrow deserializes as (key, value) tuple lists
            self._active[add["path"]] = dict(add.get("partitionValues") or {})
            # an add REPLACES the file's metadata wholesale: a new DV
            # supersedes the old one, an add without a DV clears it
            dv = add.get("deletionVector")
            if dv:
                self._dvs[add["path"]] = dv
            else:
                self._dvs.pop(add["path"], None)
            stats = add.get("stats")
            if stats:
                try:
                    self._stats[add["path"]] = (
                        json.loads(stats) if isinstance(stats, str) else stats
                    )
                except (ValueError, TypeError):
                    self._stats.pop(add["path"], None)
            else:
                self._stats.pop(add["path"], None)
        elif "remove" in action and action["remove"]:
            self._active.pop(action["remove"]["path"], None)
            self._dvs.pop(action["remove"]["path"], None)
            self._stats.pop(action["remove"]["path"], None)
        elif "txn" in action and action["txn"]:
            t = action["txn"]
            if t.get("appId") is not None and t.get("version") is not None:
                self.txns[t["appId"]] = int(t["version"])

    @property
    def files(self) -> list[str]:
        return [os.path.join(self.table_path, p) for p in sorted(self._active)]

    @property
    def column_mapping(self) -> bool:
        return self.column_mapping_mode != "none"

    @property
    def column_mapping_mode(self) -> str:
        return self.configuration.get("delta.columnMapping.mode", "none")

    def physical_names(self, files: list[str]) -> list[str]:
        """The parquet column each schema field is written under in
        ``files``: the field's own name without column mapping; its
        ``delta.columnMapping.physicalName`` in name mode; in id mode
        (the default of current Delta writers), the footer column whose
        ``PARQUET:field_id`` is the field's ``delta.columnMapping.id``.
        Id mode opens each footer once (metadata-sized, driver-side),
        and ``files`` must agree on their field-id binding — a mix of
        files written across renames is refused rather than mis-bound."""
        mode = self.column_mapping_mode
        if mode == "none":
            return self.schema.names
        key, label = {
            "name": ("delta.columnMapping.physicalName", "physicalName"),
            "id": ("delta.columnMapping.id", "delta.columnMapping.id"),
        }[mode]
        wanted = []
        for f in self.schema.fields:
            value = (f.metadata or {}).get(key)
            if value in (None, ""):
                raise DeltaError(
                    f"columnMapping.mode={mode} but field {f.name!r} has "
                    f"no {label} metadata"
                )
            wanted.append(value)
        if mode == "name":
            return wanted
        import pyarrow.parquet as pq

        bindings = [
            {
                int(fld.metadata[b"PARQUET:field_id"]): fld.name
                for fld in pq.read_schema(path)
                if b"PARQUET:field_id" in (fld.metadata or {})
            }
            for path in files
        ]
        if any(b != bindings[0] for b in bindings[1:]):
            raise DeltaError(
                "columnMapping.mode=id subset: data files disagree "
                "on their field-id → column binding"
            )
        names = []
        for f, cid in zip(self.schema.fields, wanted):
            if int(cid) not in bindings[0]:
                raise DeltaError(
                    f"no physical column carries field id {cid} "
                    f"for logical field {f.name!r}"
                )
            names.append(bindings[0][int(cid)])
        return names


def _dv_rows(
    spark: SparkSession, snap: "DeltaSnapshot", dvs: list[tuple]
) -> DataFrame:
    """``(_file, _pos)`` of the rows deletion vectors mask: each
    ``(path, new, old)`` entry yields the positions in descriptor
    ``new`` but not in ``old`` (None: no positions).  The descriptors
    (KB-sized metadata) parallelize and each sidecar is read and
    unpacked EXECUTOR-side via mapInPandas, so the driver never holds
    an expanded row-index set; the result is the small side of a
    broadcast join against :func:`_scan`'s row identity."""
    from datafusion_catalogprovider_glue_spark.sources.dv import read_dv

    table_root = snap.table_path
    desc_df = spark.createDataFrame(
        [
            (
                norm_file_path(p, table_root),
                json.dumps(new) if new else None,
                json.dumps(old) if old else None,
            )
            for p, new, old in dvs
        ],
        "_file string, _new string, _old string",
    )

    def _expand(batches):
        import pandas as pd

        def positions(desc):
            return set(read_dv(table_root, json.loads(desc))) if desc else set()

        for pdf in batches:
            files, pos = [], []
            for fpath, new, old in zip(pdf["_file"], pdf["_new"], pdf["_old"]):
                for ri in sorted(positions(new) - positions(old)):
                    files.append(fpath)
                    pos.append(ri)
            yield pd.DataFrame({"_file": pd.Series(files, dtype="object"),
                                "_pos": pd.Series(pos, dtype="int64")})

    return desc_df.mapInPandas(_expand, "_file string, _pos long")


def _scan(
    spark: SparkSession,
    snap: "DeltaSnapshot",
    files: list[tuple[str, dict]],
    identity: bool = False,
    dvs: Optional[list[tuple]] = None,
    masked: bool = False,
) -> DataFrame:
    """The one scan of Delta data files: the snapshot's active files,
    a change-feed chunk or an incremental range's adds, given as
    ``(path, partitionValues)`` pairs, under ``snap``'s logical schema.

    Files group by partition tuple; each group is one multi-file
    parquet read under the data schema with the partition values
    attached as typed literals (data files exclude partition columns,
    per protocol).  A column-mapped table reads under the physical
    names of :meth:`DeltaSnapshot.physical_names` and renames back in
    the same projection, so the rename folds into the scan's
    ReadSchema.  ``identity`` keeps each row's ``_file`` (normalized
    path) and ``_pos`` (``_metadata.row_index``).  ``dvs`` (see
    :func:`_dv_rows`) applies deletion vectors through one broadcast
    join on that identity: the rows they mask are dropped, or, with
    ``masked``, are the only rows kept."""
    part_cols = snap.partition_columns
    if snap.column_mapping and part_cols:
        raise DeltaError(
            "delta reader subset: columnMapping with partition "
            "columns is not supported"
        )
    paths = [os.path.join(snap.table_path, p) for p, _pv in files]
    phys = dict(zip(snap.schema.names, snap.physical_names(paths)))
    read_schema = T.StructType(
        [
            T.StructField(phys[f.name], f.dataType, f.nullable)
            for f in snap.schema.fields
            if f.name not in part_cols
        ]
    )
    meta = [
        file_path_col(F.col("_metadata.file_path")).alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    ] if identity or dvs else []
    groups: dict[tuple, list[str]] = {}
    for (_p, pvals), path in zip(files, paths):
        key = tuple((pvals or {}).get(c) for c in part_cols)
        groups.setdefault(key, []).append(path)
    out = None
    # None-safe deterministic order (NULL partitions sort first)
    for key, group in sorted(
        groups.items(),
        key=lambda kv: tuple((v is not None, v or "") for v in kv[0]),
    ):
        lits = dict(zip(part_cols, key))
        cols = [
            (
                F.lit(lits[f.name]).cast(f.dataType)
                if f.name in lits
                else F.col(phys[f.name])
            ).alias(f.name)
            for f in snap.schema.fields
        ]
        df = spark.read.schema(read_schema).parquet(*group).select(*cols, *meta)
        out = df if out is None else out.unionByName(df)
    if dvs:
        out = out.join(
            F.broadcast(_dv_rows(spark, snap, dvs)),
            ["_file", "_pos"],
            "semi" if masked else "left_anti",
        )
        if not identity:
            out = out.drop("_file", "_pos")
    return out


def _live_rows(
    spark: SparkSession, snap: "DeltaSnapshot", identity: bool = False
) -> DataFrame:
    """The snapshot's live rows: every active file through
    :func:`_scan`, with the rows its deletion vectors mask dropped —
    what readers, compactions and merges all start from."""
    return _scan(
        spark, snap, sorted(snap._active.items()), identity,
        [(p, dv, None) for p, dv in sorted(snap._dvs.items())],
    )


def delta_version_at_timestamp(table_path: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution from in-commit timestamps: the
    LATEST version whose recorded inCommitTimestamp <= the query
    timestamp (the spec's rule).  Refuses on tables without ICTs
    (file-mtime resolution is exactly the unreliable thing the
    feature replaces) and on timestamps before the first stamped
    commit."""
    log_dir = os.path.join(table_path, _LOG_DIR)
    stamped: list[tuple[int, int]] = []
    for v, path in _commit_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ci = json.loads(line).get("commitInfo")
                if ci and "inCommitTimestamp" in ci:
                    stamped.append((v, int(ci["inCommitTimestamp"])))
                break  # commitInfo is the first action when stamped
    if not stamped:
        raise DeltaError(
            f"no in-commit timestamps at {table_path!r} — enable the "
            "feature (enable_in_commit_timestamps) for TIMESTAMP AS OF"
        )
    # the chain must be unbroken from the first stamped commit to the
    # head: a LATER unstamped commit (log cleanup severed the writer's
    # prev-commit probe) would make resolution silently serve a stale
    # version for late timestamps — refuse instead
    last_stamped = max(v for v, _ts in stamped)
    unstamped_later = [
        v for v, _p in _commit_files(log_dir)
        if v > last_stamped
    ]
    if unstamped_later:
        raise DeltaError(
            f"in-commit timestamp chain broken: commits "
            f"{unstamped_later[:3]} after version {last_stamped} carry "
            "no inCommitTimestamp — refusing TIMESTAMP AS OF rather "
            "than resolving a stale snapshot"
        )
    eligible = [v for v, ts in stamped if ts <= timestamp_ms]
    if not eligible:
        first_v, first_ts = stamped[0]
        raise DeltaError(
            f"timestamp {timestamp_ms} precedes the first in-commit "
            f"timestamp {first_ts} (version {first_v})"
        )
    return max(eligible)



def read_delta(
    spark: SparkSession,
    table_path: str,
    version: Optional[int] = None,
    partition_filter: Optional[dict] = None,
    stats_filter: Optional[dict] = None,
    timestamp: Optional[int] = None,
) -> DataFrame:
    """Load a Delta table snapshot (latest, or VERSION AS OF),
    applying DELETION VECTORS when the snapshot carries them: every
    data row knows its (file_path, row_index) through the file
    source's ``_metadata`` struct, so masking a DV is ONE broadcast
    left-anti join against the decoded (file, row_index) set — no
    per-file branching, no row-numbering pass (sources/dv.py holds
    the sidecar codec).

    ``partition_filter`` prunes FILE-level on the log's per-add
    ``partitionValues`` (the protocol's string form — how Delta
    planners skip partitions without listing or opening them): a file
    survives only if its recorded value equals the filter value's
    string form for every filter key.

    ``stats_filter`` is DATA SKIPPING on the log's per-add
    ``stats.minValues/maxValues`` ({col: value} point or {col: (lo,
    hi)} inclusive range): a file is skipped when its recorded range
    cannot intersect the filter — Delta's stats-based pruning, the
    mechanism that makes a point lookup on a sorted or z-ordered
    column touch one file of a 100 TB table straight from the LOG,
    without opening a single parquet footer.  Files without recorded
    stats for the column are conservatively KEPT, so pruning is
    always result-preserving; the returned rows still pass through
    the normal row-level filter the caller applies."""
    if timestamp is not None:
        # TIMESTAMP AS OF via in-commit timestamps (the reliable
        # resolution — file mtimes move under copies/retention)
        if version is not None:
            raise DeltaError(
                "pass either version or timestamp, not both"
            )
        version = delta_version_at_timestamp(table_path, timestamp)
    snap = DeltaSnapshot(table_path, version)
    if partition_filter:
        unknown = set(partition_filter) - set(snap.partition_columns)
        if unknown:
            raise DeltaError(
                f"partition_filter on non-partition columns: {sorted(unknown)}"
            )
        want = {
            k: (None if v is None else str(v))
            for k, v in partition_filter.items()
        }
        snap._active = {
            p: pvals
            for p, pvals in snap._active.items()
            if all(pvals.get(k) == w for k, w in want.items())
        }
        snap._dvs = {p: d for p, d in snap._dvs.items() if p in snap._active}
    if stats_filter:
        def _bounds(path: str) -> tuple[dict, dict]:
            # no stats recorded: kept (never mis-prune)
            st = snap._stats.get(path) or {}
            return st.get("minValues") or {}, st.get("maxValues") or {}

        snap._active = {
            p: pv for p, pv in snap._active.items()
            if may_match(*_bounds(p), stats_filter)
        }
        snap._dvs = {p: d for p, d in snap._dvs.items() if p in snap._active}
    if not snap._active:
        return spark.createDataFrame([], snap.schema)
    return _live_rows(spark, snap)


def read_delta_cdf(
    spark: SparkSession,
    table_path: str,
    from_version: int = 0,
    to_version: Optional[int] = None,
) -> DataFrame:
    """Delta CHANGE DATA FEED (PROTOCOL.md §Change Data Files — the
    `table_changes(...)` surface): row-level change events between two
    versions, each tagged (_change_type, _commit_version).

    Per the protocol's reader rules, a commit that wrote ``cdc``
    actions is represented ONLY by its change files (they already
    carry _change_type = insert / update_preimage / update_postimage /
    delete); a commit without them derives changes from its
    ``dataChange`` add/remove actions — added files are inserts,
    removed files' rows are deletes (the files are still on disk
    until VACUUM).

    DELETION-VECTOR commits (r7; previously refused): a commit that
    re-ADDS an existing file with a (grown) DV masks rows in place —
    the derived deletes are the rows at the NEW-minus-OLD mask
    positions, decoded EXECUTOR-side and joined back to the file scan
    by ``_metadata.row_index``; and a removed file that carried a DV
    contributes only its LIVE rows as deletes (the already-masked
    rows died in an earlier commit).  This is exactly the commit
    shape merge_delta_dv publishes.

    Scale shape: the log walk is driver-side metadata; every change /
    added / removed file becomes part of one distributed parquet scan
    per change-type group with two literal columns attached; DV diffs
    travel as KB descriptors and expand where the tasks run — IO and
    shuffle stay ∝ change volume."""
    commits = _feed_commits(table_path, to_version, "change data feed")
    # schema + partitioning from the snapshot machinery
    head = DeltaSnapshot(table_path, version=from_version)
    change_schema = T.StructType(
        head.schema.fields
        + [T.StructField("_change_type", T.StringType(), True)]
    )
    parts: list[DataFrame] = []

    def _emit(df: DataFrame, change_type: Optional[str], version: int):
        if change_type is not None:
            df = df.withColumn("_change_type", F.lit(change_type))
        parts.append(df.withColumn("_commit_version", F.lit(version)))

    # full log replay from version 0: DV derivation needs each file's
    # PRE-commit mask and the active-file set (a re-add with a DV is a
    # masking operation, not an insert)
    active: set = set()
    dv_state: dict = {}
    pv_state: dict = {}
    for v, path in commits:
        cdc, adds, removes, dv_grows = [], [], [], []
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if action.get("cdc"):
                    cdc.append(action["cdc"]["path"])
                elif action.get("add"):
                    a = action["add"]
                    p = a["path"]
                    dv = a.get("deletionVector")
                    pv = dict(a.get("partitionValues") or {})
                    is_new = p not in active
                    old_dv = dv_state.get(p)
                    active.add(p)
                    dv_state[p] = dv
                    pv_state[p] = pv
                    if a.get("dataChange", True):
                        if is_new:
                            adds.append((p, pv))
                        if dv is not None and dv != old_dv:
                            dv_grows.append((p, pv, dv, old_dv))
                elif action.get("remove"):
                    r = action["remove"]
                    p = r["path"]
                    active.discard(p)
                    old_dv = dv_state.pop(p, None)
                    old_pv = pv_state.pop(p, {})
                    if r.get("dataChange", True):
                        removes.append((p, old_pv, old_dv))
        if v < from_version:
            continue
        if cdc:
            # change files carry ALL columns incl. partitions, and
            # their own _change_type
            _emit(
                spark.read.schema(change_schema).parquet(
                    *[os.path.join(table_path, p) for p in cdc]
                ),
                None, v,
            )
            continue
        if adds:
            _emit(_scan(spark, head, adds), "insert", v)
        plain = [(p, pv) for p, pv, d in removes if d is None]
        if plain:
            _emit(_scan(spark, head, plain), "delete", v)
        # a removed file that carried a DV: only its live rows die now;
        # a grown DV: the rows at NEW−OLD positions just died
        dv_removes = [(p, pv, d, None) for p, pv, d in removes if d is not None]
        for quads, only_masked in ((dv_removes, False), (dv_grows, True)):
            if quads:
                _emit(
                    _scan(
                        spark, head, [(p, pv) for p, pv, _n, _o in quads],
                        dvs=[(p, n, o) for p, _pv, n, o in quads],
                        masked=only_masked,
                    ),
                    "delete", v,
                )
    if not parts:
        return spark.createDataFrame(
            [],
            T.StructType(
                change_schema.fields
                + [T.StructField("_commit_version", T.IntegerType(), False)]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _feed_commits(
    table_path: str, to_version: Optional[int], feed: str
) -> list[tuple[int, str]]:
    """The commit files 0..``to_version`` (default: the latest) a change
    feed replays.  Row-level change info lives ONLY in commit files —
    checkpoints and log-compaction files are reconciled state — so a
    cleaned/compacted-away commit makes a feed unreconstructable:
    refuse rather than silently omit changes (delta-spark's
    table_changes fails the same way after cleanup).  A ``to_version``
    the table never reached is a caller error, reported as such."""
    log_dir = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise DeltaError(f"no {_LOG_DIR} at {table_path!r}")
    commits = _commit_files(log_dir)
    ckpt = _last_checkpoint(log_dir)
    latest = max(
        [v for v, _p in commits] + [e for _s, e, _p in _compacted_files(log_dir)],
        default=ckpt if ckpt is not None else -1,
    )
    if to_version is not None and to_version > latest:
        raise DeltaError(f"version {to_version} not in log (latest {latest})")
    last = latest if to_version is None else to_version
    present = {v for v, _p in commits}
    missing = [v for v in range(0, last + 1) if v not in present]
    if missing:
        raise DeltaError(
            f"{feed} needs commits 0..{last} but "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} were "
            "cleaned up (checkpointed/compacted logs carry no "
            "row-level change info) — refusing rather than omitting "
            "changes"
        )
    return [(v, p) for v, p in commits if v <= last]


def read_delta_incremental(
    spark: SparkSession, table_path: str, begin: int, end: Optional[int] = None
) -> DataFrame:
    """INCREMENTAL read of a Delta table: rows added by commits in the
    version range (begin, end] — the change feed for tables without
    Change Data Feed enabled.  Honors the protocol's ``dataChange``
    flag: an OPTIMIZE/compaction commit (dataChange=false) rearranges
    files without changing the logical table, so its adds contribute
    NOTHING; a commit that REMOVES data (dataChange=true remove) is
    refused loudly — file-level diffing cannot represent deletes, that
    is what CDF is for (scan_delta_cdf).  Each row carries its commit
    version.  IO touches only the in-range added files, read through
    :func:`_scan`."""
    commits = _feed_commits(table_path, end, "incremental read")
    snap = DeltaSnapshot(table_path)
    # the pre-range log is replayed too, so a RE-add (a DV masking
    # commit or a restore) is distinguishable from a genuinely new file
    active: set = set()
    parts = []
    for v, path in commits:
        adds = []
        with open(path) as fh:
            for line in fh:
                action = json.loads(line)
                if action.get("add"):
                    a = action["add"]
                    p = a["path"]
                    is_new = p not in active
                    active.add(p)
                    if v <= begin or not a.get("dataChange", True):
                        continue
                    if not is_new:
                        raise DeltaError(
                            f"incremental read: version {v} re-adds "
                            f"{p!r} (deletion-vector mask or restore) — "
                            "use CDF for delete-aware change feeds"
                        )
                    adds.append((p, dict(a.get("partitionValues") or {})))
                elif action.get("remove"):
                    active.discard(action["remove"]["path"])
                    if v > begin and action["remove"].get("dataChange", True):
                        raise DeltaError(
                            f"incremental read: version {v} removes data "
                            "(dataChange=true) — use CDF for delete-aware "
                            "change feeds"
                        )
        if adds:
            parts.append(
                _scan(spark, snap, adds).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
            )
    if not parts:
        return spark.createDataFrame(
            [],
            T.StructType(
                snap.schema.fields
                + [T.StructField("_commit_version", T.LongType())]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def delta_history(spark: SparkSession, table_path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit, projected from the JSON
    log's ``commitInfo`` actions plus per-commit add/remove tallies
    (``rows_added`` sums each add's ``stats.numRecords``, the footer
    counts the writer records at write time).  This is a pure METADATA
    read — only the commit JSONs are opened, never a data file — the
    same contract as Delta's own history command, which serves from
    the log regardless of table size.  Commits written by engines that
    omit ``commitInfo`` surface operation=``UNKNOWN`` rather than
    failing (the protocol makes commitInfo optional)."""
    log_dir = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise DeltaError(f"not a delta table (no {_LOG_DIR}): {table_path}")
    rows = []
    for version, path in _commit_files(log_dir):
        operation = "UNKNOWN"
        n_added = n_removed = 0
        rows_added = 0
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                info = action.get("commitInfo")
                if info:
                    operation = info.get("operation", "UNKNOWN")
                add = action.get("add")
                if add:
                    n_added += 1
                    stats = add.get("stats")
                    if stats:
                        rows_added += int(
                            json.loads(stats).get("numRecords") or 0
                        )
                if action.get("remove"):
                    n_removed += 1
        rows.append((version, operation, n_added, n_removed, rows_added))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("version", T.LongType(), False),
                T.StructField("operation", T.StringType(), False),
                T.StructField("n_added_files", T.IntegerType(), False),
                T.StructField("n_removed_files", T.IntegerType(), False),
                T.StructField("rows_added", T.LongType(), False),
            ]
        ),
    )
