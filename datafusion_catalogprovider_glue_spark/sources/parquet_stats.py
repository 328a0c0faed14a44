"""Parquet footer statistics: the one fold every table-format writer
records and the one range test every table-format reader prunes with.

Delta's per-add ``stats`` (delta_writer), Iceberg's manifest
``lower_bounds``/``upper_bounds`` (iceberg_writer) and Hudi's
column-stats index (hudi.index_hudi_column_stats) all come from
``footer_stats``; ``read_delta``, ``read_iceberg`` and ``read_hudi``
all skip a file through ``may_match`` — the ``collect_stat: true``
registration the reference makes (glue.rs:448), so file statistics
drive pruning.
"""

from __future__ import annotations

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
