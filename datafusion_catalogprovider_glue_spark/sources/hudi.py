"""Hudi copy-on-write snapshot reader — the third open-table-format
source.

The reference reads exactly one table format beyond plain files: Delta,
via the deltalake crate's own ``_delta_log`` replay (glue.rs:214-240).
sources/delta.py and sources/iceberg.py extend that self-reading
approach to Delta and Iceberg; this module completes the trio with
Apache Hudi (spec: https://hudi.apache.org/tech-specs/), again without
requiring the hudi-spark runtime JAR:

    .hoodie/<instant>.commit          completed-instant timeline
      →  commit metadata JSON          (partitionToWriteStats: fileId,
                                        path per written base file)
      →  latest file slice per file group ≤ the target instant
      →  parquet scan over exactly those base files

Copy-on-write semantics: every commit that touches a file group
rewrites its whole base file under a NEW instant timestamp, so a
snapshot at instant T is simply "for each file group, the base file
with the largest commit ts ≤ T".  ``as_of`` pins T to an earlier
completed instant (Hudi's point-in-time query).  Scope mirrors the
Delta/Iceberg readers' scoping: CoW only (no MOR log-file merging),
unpartitioned tables, file sets taken from the commit metadata the
way Hudi's own file-system view builds file slices.

Scale shape is identical to the other two: the timeline is a
driver-side read of KB-sized JSON (Hudi keeps it small via archival),
and the selected base files fan out to executors as an ordinary
multi-file parquet scan — filter pushdown and column pruning apply
untouched.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from datafusion_catalogprovider_glue_spark.errors import SparkError
from datafusion_catalogprovider_glue_spark.sources.parquet_stats import (
    footer_stats,
    may_match,
)


# ---------------------------------------------------------------------------
# Archived timeline (tech-specs §timeline: Hudi bounds the ACTIVE
# timeline by moving old completed instants into .hoodie/archived/ as
# Avro log files).  A long-lived 100 TB table WILL have an archived
# timeline, so every timeline consumer here resolves instants through
# the active-then-archived fallback: snapshot/time-travel/incremental
# reads stay identical after archival instead of silently losing the
# instants a foreign writer (or archive_hudi_timeline) moved out.
# ---------------------------------------------------------------------------

_ARCHIVED_DIR = os.path.join(".hoodie", "archived")

# location → (archive-file signature, {(instant, action): metadata}).
# The archive set only ever grows (append-only by the archival
# contract) for a LIVE table, but this engine's fixtures rebuild
# tables at the same path (rmtree + rewrite), so the signature
# includes mtime_ns alongside (name, size): a rebuilt archive file
# that coincidentally matches the old name+size still invalidates.
_archived_cache: dict[str, tuple[tuple, dict]] = {}


def _archived_timeline(location: str) -> dict[tuple[str, str], dict]:
    """(instant, action) → commit-metadata dict for every ARCHIVED
    instant, decoded from the Avro containers under
    ``.hoodie/archived/`` (KB-sized metadata, driver-side by design —
    the same scale class as the active timeline read)."""
    adir = os.path.join(location, _ARCHIVED_DIR)
    if not os.path.isdir(adir):
        return {}
    names = sorted(f for f in os.listdir(adir) if f.endswith(".avro"))
    if not names:
        return {}
    sig = tuple(
        (n, st.st_size, st.st_mtime_ns)
        for n in names
        for st in (os.stat(os.path.join(adir, n)),)
    )
    cached = _archived_cache.get(location)
    if cached is not None and cached[0] == sig:
        return cached[1]
    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        decode_container_file,
    )

    out: dict[tuple[str, str], dict] = {}
    for n in names:
        _schema, rows = decode_container_file(os.path.join(adir, n))
        for instant, action, meta_json in rows:
            out[(instant, action)] = json.loads(meta_json)
    _archived_cache[location] = (sig, out)
    return out


def _load_instant_meta(location: str, instant: str, action: str) -> dict:
    """One instant's commit metadata — active file first, archived
    timeline fallback; a loud refusal when neither has it (an instant
    referenced but present nowhere is timeline corruption)."""
    p = os.path.join(location, ".hoodie", f"{instant}.{action}")
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    meta = _archived_timeline(location).get((instant, action))
    if meta is None:
        raise SparkError(
            f"instant {instant}.{action} at {location} is neither in "
            "the active timeline nor archived"
        )
    return meta


def _timeline(
    location: str, actions: tuple[str, ...]
) -> list[tuple[str, str]]:
    """Ascending (instant, action) pairs across the ACTIVE and
    ARCHIVED timelines for the requested action kinds."""
    tl = os.path.join(location, ".hoodie")
    if not os.path.isdir(tl):
        raise SparkError(f"no .hoodie timeline under {location}")
    out = set()
    for f in os.listdir(tl):
        stem, ext = os.path.splitext(f)
        a = ext.lstrip(".")
        if a in actions:
            out.add((stem, a))
    for (t, a) in _archived_timeline(location):
        if a in actions:
            out.add((t, a))
    return sorted(out)


def hudi_max_extra_int(location: str, key: str) -> Optional[int]:
    """Largest integer value recorded under ``extraMetadata[key]``
    across the whole timeline (active + archived) — how an idempotent
    streaming writer recovers its last committed batch id after a
    restart (Hudi's DeltaStreamer-checkpoint pattern).  None when no
    commit carries the key.  Metadata-sized driver work."""
    best: Optional[int] = None
    for t, a in _timeline(
        location, ("commit", "deltacommit", "replacecommit")
    ):
        meta = _load_instant_meta(location, t, a)
        val = (meta.get("extraMetadata") or {}).get(key)
        if val is None:
            continue
        iv = int(val)
        if best is None or iv > best:
            best = iv
    return best


def hudi_completed_instants(location: str) -> list[str]:
    """Sorted completed commit instants (the ``<ts>.commit`` files in
    ``.hoodie/`` plus archived ones; requested/inflight markers are
    not completed)."""
    return [t for t, _a in _timeline(location, ("commit",))]


def table_partition_field(location: str) -> str:
    """The recorded hive partition column (hoodie.properties
    ``hoodie.table.partition.fields``), or None for unpartitioned
    tables."""
    props = os.path.join(location, ".hoodie", "hoodie.properties")
    if not os.path.exists(props):
        return None
    with open(props) as fh:
        for line in fh:
            if line.startswith("hoodie.table.partition.fields="):
                return line.split("=", 1)[1].strip() or None
    return None


def _commit_files_partitioned(
    location: str, instant: str, action: str = "commit"
) -> dict[str, tuple[str, str]]:
    """fileId → (partition path, relative path) from one commit's
    partitionToWriteStats — the partition key is what reads prune on
    without listing directories."""
    meta = _load_instant_meta(location, instant, action)
    out = {}
    for ppath, stats in meta.get("partitionToWriteStats", {}).items():
        for s in stats:
            out[s["fileId"]] = (ppath, s["path"])
    return out


def _replaced_file_ids(location: str, instant: str) -> set[str]:
    """The file groups a REPLACECOMMIT retires
    (partitionToReplaceFileIds — Hudi's clustering commit shape)."""
    meta = _load_instant_meta(location, instant, "replacecommit")
    return {
        fid
        for ids in meta.get("partitionToReplaceFileIds", {}).values()
        for fid in ids
    }


def _commit_files(location: str, instant: str) -> dict[str, str]:
    """fileId → relative base-file path written by one commit."""
    meta = _load_instant_meta(location, instant, "commit")
    out: dict[str, str] = {}
    for stats in meta.get("partitionToWriteStats", {}).values():
        for st in stats:
            out[st["fileId"]] = st["path"]
    return out


_FILES_INDEX_DIR = os.path.join(".hoodie", "metadata", "files")


def index_hudi_files(location: str) -> str:
    """Build the FILES INDEX — the engine's analog of Hudi's metadata
    table ``files`` partition (tech-specs §metadata-table): one
    KB-sized snapshot of the complete live file-slice map
    (fileId → partition path, base file) as of the latest completed
    instant, stored under ``.hoodie/metadata/files/``.  After it
    exists, ``hudi_live_slices`` seeds from the index and replays only
    the commits NEWER than it — O(1) metadata reads + O(new commits),
    instead of re-opening every commit JSON since table creation.  At
    100 TB / years of commits that replay is the listing-shaped cost
    the real metadata table exists to eliminate; real Hudi maintains
    it transactionally per commit, this engine re-indexes on demand
    (the async-metadata-indexer bootstrap shape), which composes with
    any foreign writer's commits landing afterwards."""
    slices = hudi_live_slices(location)
    instants = _timeline(location, ("commit", "replacecommit"))
    if not instants:
        raise SparkError(f"nothing to index at {location}")
    instant = instants[-1][0]
    idx_dir = os.path.join(location, _FILES_INDEX_DIR)
    os.makedirs(idx_dir, exist_ok=True)
    out = os.path.join(idx_dir, f"{instant}.files.json")
    tmp = out + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "instant": instant,
                "slices": {fid: list(pr) for fid, pr in slices.items()},
            },
            fh,
            sort_keys=True,
        )
    os.rename(tmp, out)
    return instant


def _latest_files_index(
    location: str, as_of: Optional[str]
) -> Optional[tuple[str, dict[str, tuple[str, str]]]]:
    """Newest files-index snapshot with instant <= as_of (or newest of
    all when unpinned), or None when the table has no index yet."""
    idx_dir = os.path.join(location, _FILES_INDEX_DIR)
    if not os.path.isdir(idx_dir):
        return None
    names = sorted(
        f for f in os.listdir(idx_dir) if f.endswith(".files.json")
    )
    usable = [
        n for n in names
        if as_of is None or n[: -len(".files.json")] <= as_of
    ]
    if not usable:
        return None
    with open(os.path.join(idx_dir, usable[-1])) as fh:
        doc = json.load(fh)
    return doc["instant"], {
        fid: (pr[0], pr[1]) for fid, pr in doc["slices"].items()
    }


_COL_STATS_DIR = os.path.join(".hoodie", "metadata", "col_stats")


def index_hudi_column_stats(location: str) -> str:
    """Build the COLUMN-STATS INDEX — the engine's analog of Hudi's
    metadata table ``column_stats`` partition (tech-specs
    §metadata-table, the index ``hoodie.metadata.index.column.stats.
    enable`` maintains): per live file slice, per numeric or string
    column, [min, max, null_count] folded from the parquet footers
    (sources/parquet_stats.py, the fold Delta's add stats and
    Iceberg's manifest bounds use), stored as one KB-sized JSON
    snapshot under ``.hoodie/metadata/col_stats/``.
    ``read_hudi(stats_filter=...)`` then prunes file slices from the
    INDEX without opening any footer — Delta B25 / Iceberg B26's data
    skipping, completing the trio.

    INCREMENTAL like the files index: footer reads happen only for
    slices the previous snapshot has no entry for (keyed by relative
    base-file path — a new slice of a file group has a new file name,
    so stale stats can never be inherited).  Real Hudi maintains the
    index transactionally per commit; on-demand re-indexing is the
    async-metadata-indexer bootstrap shape, same as
    index_hudi_files."""
    slices = hudi_live_slices(location)
    instants = _timeline(location, ("commit", "replacecommit"))
    if not instants:
        raise SparkError(f"nothing to index at {location}")
    instant = instants[-1][0]
    prev = _latest_col_stats(location, None)
    prev_by_rel = {}
    if prev is not None:
        _pi, prev_stats, prev_rels = prev
        prev_by_rel = {
            prev_rels[fid]: st
            for fid, st in prev_stats.items()
            if fid in prev_rels
        }
    stats: dict[str, dict] = {}
    rels: dict[str, str] = {}
    for fid, (_ppath, rel) in slices.items():
        rels[fid] = rel
        if rel in prev_by_rel:
            stats[fid] = prev_by_rel[rel]  # same file bytes: reuse
        else:
            stats[fid] = footer_stats(os.path.join(location, rel))[1]
    idx_dir = os.path.join(location, _COL_STATS_DIR)
    os.makedirs(idx_dir, exist_ok=True)
    out = os.path.join(idx_dir, f"{instant}.colstats.json")
    tmp = out + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(
            {"instant": instant, "stats": stats, "rels": rels},
            fh,
            sort_keys=True,
        )
    os.rename(tmp, out)
    return instant


def _latest_col_stats(
    location: str, as_of: Optional[str]
) -> Optional[tuple[str, dict, dict]]:
    """(instant, {fileId: {col: [lo, hi, nulls]}}, {fileId: rel}) of
    the newest column-stats snapshot with instant <= as_of, or None."""
    idx_dir = os.path.join(location, _COL_STATS_DIR)
    if not os.path.isdir(idx_dir):
        return None
    names = sorted(
        f for f in os.listdir(idx_dir) if f.endswith(".colstats.json")
    )
    usable = [
        n for n in names
        if as_of is None or n[: -len(".colstats.json")] <= as_of
    ]
    if not usable:
        return None
    with open(os.path.join(idx_dir, usable[-1])) as fh:
        doc = json.load(fh)
    return doc["instant"], doc["stats"], doc.get("rels") or {}


def hudi_live_slices(
    location: str, as_of: Optional[str] = None
) -> dict[str, tuple[str, str]]:
    """fileId → (partition path, relative base-file path) of every LIVE
    file slice at ``as_of`` (default: latest) — the spec's file-system
    view: ascending timeline replay where later commits win a group's
    slice and a REPLACECOMMIT retires its replaced groups from that
    instant on.  Shared by snapshot reads AND the CoW upsert's routing
    index, so a writer can never route a key into a group clustering
    already retired.

    When a FILES INDEX exists (index_hudi_files), the replay seeds
    from its snapshot and opens only commit files STRICTLY NEWER than
    the index instant — the metadata-table fast path; correctness is
    unchanged because the index is exactly the replay state at its
    instant."""
    timeline = _timeline(location, ("commit", "replacecommit"))
    if as_of is not None:
        timeline = [(t, a) for t, a in timeline if t <= as_of]
        if not timeline:
            raise SparkError(
                f"no completed instant <= {as_of} at {location}"
            )
    latest: dict[str, tuple[str, str]] = {}
    seeded = _latest_files_index(location, as_of)
    if seeded is not None:
        idx_instant, latest = seeded
        timeline = [(t, a) for t, a in timeline if t > idx_instant]
    for t, action in timeline:  # ascending: later commits win the slice
        latest.update(_commit_files_partitioned(location, t, action))
        if action == "replacecommit":
            # clustering retires the replaced groups from this instant
            # on; time travel before it still resolves them above
            for fid in _replaced_file_ids(location, t):
                latest.pop(fid, None)
    return latest


def _cleaned_files(location: str) -> set[str]:
    """Relative base-file paths reclaimed by CLEAN instants
    (``{instant}.clean`` metadata — hudi_writer.clean_hudi_file_slices)
    — the registry that turns a time travel into cleaned history into
    a LOUD refusal instead of an opaque missing-file scan error."""
    tl = os.path.join(location, ".hoodie")
    out: set[str] = set()
    if not os.path.isdir(tl):
        return out
    for f in os.listdir(tl):
        if f.endswith(".clean"):
            with open(os.path.join(tl, f)) as fh:
                doc = json.load(fh)
            out.update(c["path"] for c in doc.get("cleaned") or [])
    return out


def read_hudi(
    spark: SparkSession,
    location: str,
    as_of: Optional[str] = None,
    partition_filter: Optional[dict] = None,
    stats_filter: Optional[dict] = None,
) -> DataFrame:
    """Snapshot (or point-in-time, via ``as_of``) read of a CoW table.

    Replays the completed timeline in instant order, keeping the last
    base file written per file group — the file-slice resolution rule
    of the spec — then scans the surviving parquet files.

    ``partition_filter`` ({column: value}) prunes PARTITION-level on
    the commits' partitionToWriteStats keys (r7, hive-partitioned
    tables): only file slices whose partition path matches are
    scanned — no directory listing, no file open.  The partition
    column itself is stored IN the data files (Hudi's layout, unlike
    Delta), so the scan needs no re-attachment.

    ``stats_filter`` ({col: value} point or {col: (lo, hi)} range,
    r10) is DATA SKIPPING from the column-stats index
    (index_hudi_column_stats — the metadata table's ``column_stats``
    partition): a file slice is skipped when its recorded [min, max]
    cannot intersect the filter, straight from the KB-sized index,
    no footer opened.  Slices without recorded stats (committed after
    the index, or stats-less columns) are conservatively KEPT, so
    pruning is always result-preserving — the Delta B25 / Iceberg B26
    discipline."""
    latest = hudi_live_slices(location, as_of)
    gone = _cleaned_files(location)
    if gone:
        hit = {
            fid: rel
            for fid, (_pp, rel) in latest.items()
            if rel in gone
        }
        if hit:
            raise SparkError(
                f"file slices {sorted(hit.values())[:3]} were reclaimed "
                "by a CLEAN instant — the requested snapshot "
                f"({'as_of=' + as_of if as_of else 'latest'}) is no "
                "longer reconstructable"
            )
    unpruned = dict(latest)
    if stats_filter:
        idx = _latest_col_stats(location, as_of)
        if idx is None:
            raise SparkError(
                f"stats_filter needs a column-stats index at "
                f"{location} (run index_hudi_column_stats first)"
            )
        _instant, stats, _rels = idx

        def _bounds(fid: str) -> tuple[dict, dict]:
            # a slice newer than the index has no entry: kept
            st = stats.get(fid, {})
            return (
                {c: b[0] for c, b in st.items()},
                {c: b[1] for c, b in st.items()},
            )

        latest = {
            f: pr for f, pr in latest.items()
            if may_match(*_bounds(f), stats_filter)
        }
    if partition_filter:
        pf = table_partition_field(location)
        unknown = set(partition_filter) - ({pf} if pf else set())
        if unknown:
            raise SparkError(
                f"partition_filter on non-partition columns: "
                f"{sorted(unknown)} (table partitioned on {pf!r})"
            )
        val = partition_filter[pf]
        want = (
            "__HIVE_DEFAULT_PARTITION__" if val is None else str(val)
        )
        want_path = f"{pf}={want}"
        latest = {
            fid: (ppath, rel)
            for fid, (ppath, rel) in latest.items()
            if ppath == want_path
        }
    paths = [
        os.path.join(location, rel)
        for _ppath, rel in sorted(latest.values())
    ]
    if not paths:
        if stats_filter and unpruned:
            # every slice's recorded range excludes the probe: the
            # answer is provably empty — serve it with the table's
            # schema (footer of one live file) and zero data reads
            any_rel = sorted(unpruned.values())[0][1]
            schema = spark.read.parquet(
                os.path.join(location, any_rel)
            ).schema
            return spark.createDataFrame([], schema)
        raise SparkError(f"hudi table at {location} has no base files")
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------------------
# Merge-on-read (MOR): base parquet + Avro delta logs
# ---------------------------------------------------------------------------


def hudi_mor_instants(location: str) -> list[tuple[str, str]]:
    """Completed instants of BOTH actions, ascending: (instant, action)
    with action in {'commit', 'deltacommit'} — base-file commits and
    log-appending delta commits share one timeline in MOR tables."""
    return _timeline(location, ("commit", "deltacommit"))


def read_hudi_mor(
    spark: SparkSession,
    location: str,
    key_col: str,
    as_of: Optional[str] = None,
    read_optimized: bool = False,
) -> DataFrame:
    """Snapshot read of a merge-on-read table: base file slices (from
    ``commit`` instants, CoW resolution rule) merged with delta log
    records — per key, the newest log record wins, and its non-null
    columns OVERWRITE the base row (Hudi's partial-payload
    OverwriteNonDefaultsWithLatest shape).  Log records whose key is
    absent from every base file (log-only inserts) surface as new
    rows, with base-only columns null — a real MOR snapshot query
    shows log inserts, not just updates.  ``read_optimized=True`` is
    Hudi's read-optimized query type: base files only, no log merging
    (stale but cheap).  ``as_of`` pins both kinds of instants.

    File-slice rule: a log file attaches to the file slice whose base
    instant it was written AGAINST, so after a compaction/rewrite
    ``commit`` replaces a file group's base file under a newer
    instant, earlier deltacommit logs for that group are superseded
    and must NOT be re-applied over the fresh base.  We track the
    winning base instant per fileId while replaying the timeline and
    merge only log files whose instant is greater.

    Scale shape: log files are small by design (Hudi compacts them
    into base files on a cadence); each decodes executor-side as one
    task (read_avro_fallback), the latest-per-key collapse is an
    aggregation over log rows only, and the merge is one equi-join on
    the record key against the base scan — base files never re-sort.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        read_avro_fallback,
        schema_from_avro_file,
    )

    instants = hudi_mor_instants(location)
    if as_of is not None:
        instants = [(t, a) for t, a in instants if t <= as_of]
        if not instants:
            raise SparkError(f"no completed instant <= {as_of} at {location}")
    # fileId → (winning base instant, path); logs as (fileId, instant, path)
    base_latest: dict[str, tuple[str, str]] = {}
    log_files: list[tuple[str, str, str]] = []
    for t, action in instants:
        if action == "commit":
            for file_id, rel in _commit_files(location, t).items():
                base_latest[file_id] = (t, rel)
        else:
            for file_id, rel in _commit_files_action(
                location, t, "deltacommit"
            ).items():
                log_files.append((file_id, t, os.path.join(location, rel)))
    base_paths = [
        os.path.join(location, rel)
        for rel in sorted(rel for _t, rel in base_latest.values())
    ]
    if not base_paths:
        raise SparkError(f"hudi table at {location} has no base files")
    base = spark.read.parquet(*base_paths)
    # keep only logs newer than their file group's winning base
    # instant (logs of log-only file groups have no base and always
    # apply); a compaction commit at t3 > t2 supersedes the t2 log.
    live_logs = sorted(
        (t, path)
        for file_id, t, path in log_files
        if file_id not in base_latest or t > base_latest[file_id][0]
    )
    if read_optimized or not live_logs:
        return base

    # ONE distributed decode over (instant, path) pairs — r8: the
    # previous per-file read + chained unionByName built a plan node
    # per log file, so analysis cost grew with timeline depth (7.5× at
    # 10× data); now the log count only widens one RDD, never the plan
    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        decode_container_file,
    )
    from pyspark.sql import types as _T

    log_schema = schema_from_avro_file(live_logs[0][1])
    target_fields = [f.name for f in log_schema.fields]

    def _decode_logs(pairs):
        # refuse on writer-schema divergence rather than silently
        # nulling missing columns / dropping extras — the pre-r8
        # per-file unionByName raised loudly on evolved log-block
        # schemas, and this single-pass decode must keep that contract
        expected = set(target_fields)
        for t, p in pairs:
            writer_schema, rows = decode_container_file(p)
            names = [f["name"] for f in writer_schema["fields"]]
            got = set(names)
            if got != expected:
                raise SparkError(
                    f"hudi MoR log schema divergence in {p!r}: "
                    f"missing={sorted(expected - got)} "
                    f"extra={sorted(got - expected)} — refusing rather "
                    "than silently nulling/dropping columns"
                )
            idx = {n: i for i, n in enumerate(names)}
            for row in rows:
                yield tuple(
                    row[idx[name]] for name in target_fields
                ) + (t,)

    logs = spark.createDataFrame(
        spark.sparkContext.parallelize(
            live_logs, len(live_logs)
        ).mapPartitions(_decode_logs),
        _T.StructType(
            log_schema.fields
            + [_T.StructField("_hoodie_commit_time", _T.StringType())]
        ),
    )
    # newest log record per key wins (instant, then file order is
    # already encoded by unionByName sequence — tie-break on instant
    # suffices for distinct instants, which the timeline guarantees)
    w = Window.partitionBy(key_col).orderBy(F.col("_hoodie_commit_time").desc())
    latest = (
        logs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_hoodie_commit_time")
    )
    upd_cols = [c for c in latest.columns if c != key_col]
    renamed = latest.select(
        F.col(key_col), *[F.col(c).alias(f"_u_{c}") for c in upd_cols]
    )
    # full outer: base-absent log keys become insert rows (base-only
    # columns null); the string `on` coalesces the key column.
    merged = base.join(renamed, key_col, "full")
    for c in upd_cols:
        merged = merged.withColumn(c, F.coalesce(F.col(f"_u_{c}"), F.col(c)))
    return merged.drop(*[f"_u_{c}" for c in upd_cols])


def _commit_files_action(location: str, instant: str, action: str) -> dict[str, str]:
    """fileId → relative path for a specific timeline action file."""
    meta = _load_instant_meta(location, instant, action)
    out: dict[str, str] = {}
    for stats in meta.get("partitionToWriteStats", {}).values():
        for st in stats:
            out[st["fileId"]] = st["path"]
    return out


def read_hudi_incremental(
    spark: SparkSession, location: str, begin: str, end: Optional[str] = None
) -> DataFrame:
    """INCREMENTAL query on a CoW table (Hudi's change-capture query
    type): rows from file slices committed in the instant range
    (begin, end] — the files a downstream pipeline must reprocess to
    catch up from its last checkpoint.  Within the range, the normal
    file-slice rule applies (a later commit's base file supersedes an
    earlier one for the same file group — each changed row surfaces
    ONCE, in its final in-range state); slices last written at or
    before ``begin`` are excluded entirely.  Each row carries its
    commit instant as ``_hoodie_commit_time``, the spec's meta column
    consumers checkpoint on.

    Granularity: when the data files carry the spec's per-row
    ``_hoodie_commit_time`` meta column (real Hudi writers always
    populate it), rows are filtered on THAT column — rows carried
    unchanged through a CoW rewrite keep their original commit time
    and fall outside the range, exactly like Hudi's incremental
    relation.  Only when the meta column is absent (stripped/external
    parquet) does the reader degrade to FILE-SLICE granularity,
    tagging every row of an in-range slice with the slice's commit
    instant — a documented over-approximation (a rewrite re-reports
    untouched rows).

    Scale: identical to the snapshot reader — driver-side KB timeline,
    executor-side parquet scan of only the in-range slices, which is
    the whole point of incremental pulls (IO ∝ change volume, not
    table size)."""
    from pyspark.sql import functions as F

    instants = hudi_completed_instants(location)
    in_range = [
        t for t in instants if t > begin and (end is None or t <= end)
    ]
    if not in_range:
        return spark.createDataFrame([], "_hoodie_commit_time string")
    latest: dict[str, tuple[str, str]] = {}
    for t in in_range:  # ascending: later in-range commits win the slice
        for file_id, rel in _commit_files(location, t).items():
            latest[file_id] = (t, rel)
    by_instant: dict[str, list[str]] = {}
    for t, rel in latest.values():
        by_instant.setdefault(t, []).append(os.path.join(location, rel))
    all_paths = sorted(p for ps in by_instant.values() for p in ps)
    probe = spark.read.parquet(*all_paths)
    if "_hoodie_commit_time" in probe.columns:
        # row-level semantics: the writer-populated meta column is the
        # truth — one scan, range predicate pushed to parquet
        cond = F.col("_hoodie_commit_time") > F.lit(begin)
        if end is not None:
            cond = cond & (F.col("_hoodie_commit_time") <= F.lit(end))
        return probe.filter(cond)
    parts = []
    for t, paths in sorted(by_instant.items()):
        parts.append(
            spark.read.parquet(*sorted(paths)).withColumn(
                "_hoodie_commit_time", F.lit(t)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_hudi_mor_incremental(
    spark: SparkSession,
    location: str,
    key_col: str,
    begin: str,
    end: Optional[str] = None,
) -> DataFrame:
    """INCREMENTAL query on a MERGE-ON-READ table: the latest state of
    every record CHANGED in the instant range (begin, end] — base-file
    commits and log deltacommits alike (Hudi's MoR incremental
    relation reads log blocks for instants past the last compaction).
    Per changed key, the newest in-range occurrence wins: a log record
    newer than a base rewrite overrides it, non-null columns
    overwriting the base row's (the same partial-payload shape the
    snapshot reader applies); each row carries its instant as
    ``_hoodie_commit_time``.

    IO ∝ change volume: only in-range base slices and in-range log
    files open; logs are KB-sized by the MoR contract and base slices
    obey the same supersede rule as the CoW incremental reader.
    Scale shape: log decode is executor-side (read_avro_fallback), the
    latest-per-key collapse is one window over CHANGED rows only, and
    the base/log combine is a keyed coalesce — never a scan of
    untouched slices."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
        read_avro_fallback,
        schema_from_avro_file,
    )

    instants = hudi_mor_instants(location)
    in_range = [
        (t, a)
        for t, a in instants
        if t > begin and (end is None or t <= end)
    ]
    if not in_range:
        return spark.createDataFrame([], "_hoodie_commit_time string")
    # in-range winning base slice per file group (CoW supersede rule)
    base_latest: dict[str, tuple[str, str]] = {}
    logs: list[tuple[str, str]] = []
    for t, action in in_range:
        if action == "commit":
            for file_id, rel in _commit_files_action(
                location, t, "commit"
            ).items():
                base_latest[file_id] = (t, rel)
        else:
            for _fid, rel in _commit_files_action(
                location, t, "deltacommit"
            ).items():
                logs.append((t, rel))
    parts = []
    for t, rel in sorted(
        (t, rel) for t, rel in base_latest.values()
    ):
        df = spark.read.parquet(os.path.join(location, rel))
        if "_hoodie_commit_time" not in df.columns:
            df = df.withColumn("_hoodie_commit_time", F.lit(t))
        parts.append(df)
    for t, rel in sorted(logs):
        path = os.path.join(location, rel)
        df = read_avro_fallback(
            spark, path, schema_from_avro_file(path)
        ).withColumn("_hoodie_commit_time", F.lit(t))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    # base rows carried through a rewrite keep their ORIGINAL commit
    # time — rows at or before `begin` are unchanged and drop out
    cond = F.col("_hoodie_commit_time") > F.lit(begin)
    if end is not None:
        cond = cond & (F.col("_hoodie_commit_time") <= F.lit(end))
    out = out.filter(cond)
    # newest in-range occurrence per key wins; each column takes its
    # NEWEST NON-NULL in-range value (partial log payloads merge the
    # way the snapshot reader merges them) — full frame, newest first
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("_hoodie_commit_time").desc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    val_cols = [
        c for c in out.columns if c not in (key_col, "_hoodie_commit_time")
    ]
    filled = out.select(
        key_col,
        "_hoodie_commit_time",
        *[
            F.first(c, ignorenulls=True).over(w).alias(c)
            for c in val_cols
        ],
    )
    return (
        filled.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(key_col).orderBy(
                    F.col("_hoodie_commit_time").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def hudi_timeline_df(spark: SparkSession, location: str) -> DataFrame:
    """The TIMELINE metadata query (Hudi's ``.hoodie`` instants — what
    ``call show_commits`` serves): one row per COMPLETED instant with
    its action (commit / deltacommit / replacecommit), the file-group
    write-stat count, and total ``numWrites`` rows recorded by the
    writer.  Driver-side work is the KB-sized commit JSONs only —
    Hudi's own timeline view has the same shape (the spec bounds the
    active timeline via archival), so the query costs the same at
    100 TB as at 100 MB."""
    from pyspark.sql import types as T

    if not os.path.isdir(os.path.join(location, ".hoodie")):
        raise SparkError(f"not a hudi table (no .hoodie): {location}")
    rows = []
    for stem, action in _timeline(
        location, ("commit", "deltacommit", "replacecommit")
    ):
        if not stem.isdigit():
            continue
        meta = _load_instant_meta(location, stem, action)
        n_files = 0
        n_rows = 0
        n_parts = 0
        for _part, stats in sorted(
            meta.get("partitionToWriteStats", {}).items()
        ):
            n_parts += 1
            for st in stats:
                n_files += 1
                n_rows += int(st.get("numWrites") or 0)
        rows.append((stem, action, n_parts, n_files, n_rows))
    rows.sort()
    return spark.createDataFrame(
        [(i + 1, *r) for i, r in enumerate(rows)],
        T.StructType(
            [
                T.StructField("seq", T.IntegerType(), False),
                T.StructField("instant", T.StringType(), False),
                T.StructField("action", T.StringType(), False),
                T.StructField("n_partitions", T.IntegerType(), False),
                T.StructField("n_files", T.IntegerType(), False),
                T.StructField("rows_written", T.LongType(), False),
            ]
        ),
    )
