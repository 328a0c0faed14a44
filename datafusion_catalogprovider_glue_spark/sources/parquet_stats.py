"""Parquet data files of the lake tables: the one writer that lays
them down and the footer statistics every format records for them.

``write_data_files`` is the only Spark parquet write of Delta, Iceberg
and Hudi data files (delta_writer, iceberg_writer, hudi_writer): one
write into a private staging directory, then each part file is
claimed at the name its format gives it put-if-absent, so a writer
that lost a commit race fails before its commit and never deletes or
replaces a file another writer committed.

Delta's per-add ``stats`` (delta_writer), Iceberg's manifest
``lower_bounds``/``upper_bounds`` (iceberg_writer) and Hudi's
column-stats index (hudi.index_hudi_column_stats) all come from
``footer_stats``; ``read_delta``, ``read_iceberg`` and ``read_hudi``
all skip a file through ``may_match`` — the ``collect_stat: true``
registration the reference makes (glue.rs:448), so file statistics
drive pruning.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import uuid
from urllib.parse import unquote


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version, or claimed this file
    name, first — the caller must re-read the table and retry
    (optimistic concurrency)."""


def claim(src: str, dest: str) -> None:
    """Publish ``src`` at ``dest`` put-if-absent and drop ``src``.
    ``os.link`` fails on an existing target where ``os.rename`` would
    replace it, so a name another writer holds is never overwritten:
    the later writer gets ``ConcurrentWriteError`` instead."""
    try:
        os.link(src, dest)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"{dest} already exists — another writer claimed it first"
        ) from None
    finally:
        os.unlink(src)


def write_data_files(df, root: str, name, partition_by=(),
                     n_files: int = None) -> list[tuple[str, dict]]:
    """Write ``df`` as parquet data files of the table at ``root`` and
    return ``[(path relative to root, layout values)]``, sorted by
    directory and then by Spark's part-file name.

    One Spark write lands in a fresh ``_staging-<uuid>`` directory
    under ``root`` (no reader lists it), laid out by the
    ``partition_by`` columns; ``n_files`` coalesces an unpartitioned
    write to at most that many files.  Only this write's part files
    are listed — never a directory another writer shares — and each
    is claimed put-if-absent at ``name(rel, values, index)``: ``rel``
    is its staging path (Spark's escaped ``col=value/`` directories
    and part name), ``values`` maps each layout column to its
    unescaped value (``None`` for Hive's ``__HIVE_DEFAULT_PARTITION__``
    NULL directory) and ``index`` is its position in its directory.
    A taken name raises ``ConcurrentWriteError`` and unlinks the files
    this call already placed; the staging directory, with Spark's
    ``_SUCCESS`` and ``.crc`` files, is removed either way."""
    staging = os.path.join(root, f"_staging-{uuid.uuid4().hex}")
    try:
        if n_files and not partition_by:
            df = df.coalesce(n_files)
        df.write.partitionBy(*partition_by).parquet(staging)
        staged = []
        for d, _dirs, names in os.walk(staging):
            rel_dir = os.path.relpath(d, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            values = {}
            for comp in rel_dir.split(os.sep) if rel_dir else ():
                col, _, raw = comp.partition("=")
                raw = unquote(raw)
                values[col] = (
                    None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                )
            parts = sorted(n for n in names if n.endswith(".parquet"))
            staged.extend(
                (rel_dir, i, n, dict(values)) for i, n in enumerate(parts)
            )
        staged.sort(key=lambda f: (f[0], f[1]))
        placed = []
        try:
            for rel_dir, i, part, values in staged:
                rel = posixpath.join(rel_dir, part)
                dest = name(rel, values, i)
                full = os.path.join(root, dest)
                os.makedirs(os.path.dirname(full), exist_ok=True)
                claim(os.path.join(staging, rel), full)
                placed.append((dest, values))
        except BaseException:
            for dest, _values in placed:
                os.unlink(os.path.join(root, dest))
            raise
        return placed
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# physical types whose footer min/max order is the column's value
# order (strings as-is; a writer that truncates them only WIDENS the
# range, which never breaks pruning)
_STAT_TYPES = {"INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY"}
_VALUE_TYPES = (int, float, str)


def footer_stats(path: str) -> tuple[int, dict[str, tuple]]:
    """``(num_rows, {column: (min, max, null_count)})`` from ONE footer
    read — metadata only, no data page touched.

    A column records stats only if it is top-level, of a physical type
    in ``_STAT_TYPES``, and yields min/max in EVERY row group as an
    ``int``, ``float`` or UTF-8 ``str``.  Anything else records
    nothing: a logical value (``date``, ``datetime``, ``Decimal``) or
    an extraction error has no JSON-portable form, and a partial fold
    would understate the file's true range, so pruning would wrongly
    skip a file containing matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    folded: dict[str, list] = {}
    partial: set = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or col.physical_type not in _STAT_TYPES:
                continue
            st = col.statistics
            lo = hi = None
            if st is not None and st.has_min_max:
                try:
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        lo, hi = lo.decode(), hi.decode()
                except (pa.ArrowException, UnicodeDecodeError):
                    # a logical type pyarrow cannot convert, or binary
                    # that is not UTF-8: no portable value
                    lo = hi = None
            if not (isinstance(lo, _VALUE_TYPES)
                    and isinstance(hi, _VALUE_TYPES)):
                partial.add(name)
                continue
            acc = folded.get(name)
            if acc is None:
                folded[name] = [lo, hi, st.null_count or 0]
            else:
                acc[0] = min(acc[0], lo)
                acc[1] = max(acc[1], hi)
                acc[2] += st.null_count or 0
    return int(md.num_rows), {
        name: tuple(acc) for name, acc in folded.items() if name not in partial
    }


def may_match(lows: dict, highs: dict, stats_filter: dict) -> bool:
    """False only when a file's recorded ``[lows[col], highs[col]]``
    cannot intersect ``stats_filter`` — ``{col: value}`` points or
    ``{col: (lo, hi)}`` inclusive ranges, a ``None`` end open.  A
    column without recorded bounds keeps the file, so pruning is
    always result-preserving."""
    for col, want in stats_filter.items():
        if col not in lows or col not in highs:
            continue
        lo, hi = want if isinstance(want, (tuple, list)) else (want, want)
        if (hi is not None and lows[col] > hi) or (
            lo is not None and highs[col] < lo
        ):
            return False
    return True
