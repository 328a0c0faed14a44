"""Benchmark-side tracing: spans around the calls into each layer.

Spans are recorded in memory and written out when the run ends.  They
are installed by wrapping public functions of the engine from outside
(``install``), so nothing inside the package is edited; ``uninstall``
restores every wrapped attribute.

A span is the list ``[name, start_ns, end_ns, parent, op, n, error]``:
``name`` is ``<layer>:<function>``, ``parent`` the index of the
enclosing span (-1 for none), ``op`` the op id (-1 during set-up),
``n`` a count attached by the wrapper (columns parsed, partitions
registered) and ``error`` whether the call raised.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from perfbench.stats import percentile, ratio

NAME, START, END, PARENT, OP, N, ERROR = range(7)

# layers an op's spans can belong to ("session" spans occur in set-up only)
LAYERS = ("bench", "catalog.fake_glue", "catalog.catalog", "types",
          "sources.formats", "sources", "infoschema", "engine")
SQL = "catalog.catalog:GlueCatalog.sql"
REGISTER = "catalog.catalog:register_glue_table"
ANALYZE = "engine:SparkSession.sql"
LOAD = "engine:DataFrameReader.load"
ACTION = "engine:action"
READS = ("sources:read_delta", "sources:read_iceberg")
COMMITS = ("sources:append_delta", "sources:merge_delta",
           "sources:append_iceberg", "sources:merge_iceberg")


class Tracer:
    """Records spans for one single-threaded run."""

    def __init__(self):
        self.spans: list[list] = []
        self.op = -1
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name):
        """A span around the enclosed block, nested in the open span."""
        parent = self._stack[-1] if self._stack else -1
        span = [name, time.perf_counter_ns(), 0, parent, self.op, 0, False]
        self._stack.append(len(self.spans))
        self.spans.append(span)
        try:
            yield span
        except BaseException:
            span[ERROR] = True
            raise
        finally:
            span[END] = time.perf_counter_ns()
            self._stack.pop()

    def call(self, name, fn, args, kwargs, count=None):
        with self.span(name) as span:
            result = fn(*args, **kwargs)
        if count is not None:
            span[N] = count(args, kwargs, result)
        return result

    def wrap(self, name, fn, count=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, args, kwargs, count)

        return traced

    def patch(self, owner, attr, name, count=None):
        """Replace ``owner.attr`` by a traced wrapper until ``uninstall``."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original, count))

    def uninstall(self):
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def install(self):
        """Wrap the engine's public entry points, layer by layer."""
        from pyspark.sql import SparkSession
        from pyspark.sql.readwriter import DataFrameReader

        from datafusion_catalogprovider_glue_spark import infoschema, session
        from datafusion_catalogprovider_glue_spark.catalog import catalog
        from datafusion_catalogprovider_glue_spark.sources import (
            delta, delta_writer, iceberg, iceberg_writer,
        )

        cat = catalog.GlueCatalog
        self.patch(session, "get_spark", "session:get_spark")
        self.patch(cat, "sql", SQL)
        self.patch(cat, "register_table",
                   "catalog.catalog:GlueCatalog.register_table")
        self.patch(cat, "register_all", "catalog.catalog:GlueCatalog.register_all")
        # the per-table step shared by register_table and register_all
        self.patch(cat, "_register_glue_table", REGISTER,
                   lambda a, k, entry: len(entry.partitions))
        # catalog.py binds these by name, so they are wrapped there
        self.patch(catalog, "map_glue_columns_to_spark_schema",
                   "types:map_glue_columns_to_spark_schema",
                   lambda a, k, r: len(a[0]))
        self.patch(catalog, "calculate_reader_spec",
                   "sources.formats:calculate_reader_spec")
        self.patch(SparkSession, "sql", ANALYZE)
        self.patch(DataFrameReader, "load", LOAD)
        for fn in ("information_schema_columns", "information_schema_tables",
                   "information_schema_partitions"):
            self.patch(infoschema, fn, f"infoschema:{fn}")
        for module, fn in ((delta, "read_delta"), (iceberg, "read_iceberg")):
            self.patch(module, fn, f"sources:{fn}",
                       lambda a, k, r: log_entries(
                           a[1] if len(a) > 1 else k["table_path"]))
        for module, fn in ((delta_writer, "append_delta"),
                           (delta_writer, "merge_delta"),
                           (iceberg_writer, "append_iceberg"),
                           (iceberg_writer, "merge_iceberg")):
            self.patch(module, fn, f"sources:{fn}")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s[NAME], "start_ns": s[START], "end_ns": s[END],
                    "parent": s[PARENT], "op": s[OP], "n": s[N],
                    "error": s[ERROR],
                }) + "\n")


def log_entries(path: str) -> int:
    """Delta ``_delta_log`` entries or Iceberg manifests on disk."""
    delta_log = os.path.join(path, "_delta_log")
    if os.path.isdir(delta_log):
        return sum(1 for f in os.listdir(delta_log)
                   if f.endswith((".json", ".parquet")))
    meta = os.path.join(path, "metadata")
    return sum(1 for f in os.listdir(meta)
               if f.startswith("manifest-") and f.endswith(".avro"))


def layer(name: str) -> str:
    return name.split(":", 1)[0]


def duration_ms(span) -> float:
    return (span[END] - span[START]) / 1e6


def self_times_ms(spans) -> list[float]:
    """Each span's duration minus the time its direct children cover.
    Spans of one thread nest, so children never overlap."""
    out = [duration_ms(s) for s in spans]
    for s in spans:
        if s[PARENT] >= 0:
            out[s[PARENT]] -= duration_ms(s)
    return out


def has_ancestor(spans, i: int, name: str) -> bool:
    p = spans[i][PARENT]
    while p >= 0:
        if spans[p][NAME] == name:
            return True
        p = spans[p][PARENT]
    return False


def layer_metrics(spans, ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics over the spans of the measured ops.

    ``ops[i]`` describes op ``i``: ``refs`` (catalog tables its SQL
    names), the ``commit`` flag with ``user_bytes`` and ``bytes_written``,
    and the engine counters ``jobs``, ``tasks``, ``files``,
    ``scan_rows`` and ``rows`` (result rows)."""
    n_ops = len(ops)
    op_spans = [s for s in spans if s[OP] >= 0]
    idx = [i for i, s in enumerate(spans) if s[OP] >= 0]
    selfs = self_times_ms(spans)

    def named(*names):
        return [spans[i] for i in idx if spans[i][NAME] in names]

    def per_op(value):
        return ratio(value, n_ops)

    glue = [s for s in op_spans if layer(s[NAME]) == "catalog.fake_glue"]
    out = {
        "glue.calls_per_op": per_op(len(glue)),
        "glue.get_table_per_op": per_op(
            sum(s[NAME].endswith(":GetTable") for s in glue)),
        "glue.get_partitions_pages_per_op": per_op(
            sum(s[NAME].endswith(":GetPartitions") for s in glue)),
        "glue.wait_ms_per_op": per_op(sum(duration_ms(s) for s in glue)),
    }
    maps = named("types:map_glue_columns_to_spark_schema")
    out["types.map_schema_ms_per_op"] = per_op(sum(map(duration_ms, maps)))
    out["types.columns_parsed_per_op"] = per_op(sum(s[N] for s in maps))

    # registration latency over set-up and ops: sql_analytics registers
    # everything during set-up
    regs = [s for s in spans if s[NAME] == REGISTER and not s[ERROR]]
    plain = [duration_ms(s) for s in regs if s[N] == 0]
    parted = [duration_ms(s) for s in regs if s[N] > 0]
    out["catalog.register_table.plain_ms_p50"] = (
        percentile(plain, 50) if plain else 0.0)
    out["catalog.register_table.partitioned_ms_p50"] = (
        percentile(parted, 50) if parted else 0.0)
    out["catalog.partitions_registered_per_op"] = per_op(
        sum(s[N] for s in named(REGISTER)))
    sql_idx = [i for i in idx if spans[i][NAME] == SQL]
    lazy = sum(1 for i in idx if spans[i][NAME] == REGISTER
               and has_ancestor(spans, i, SQL))
    refs = sum(op["refs"] for op in ops)
    out["catalog.registry_hit_ratio"] = 1.0 - ratio(lazy, refs) if refs else 0.0
    attempts = sum(1 for i in idx if spans[i][NAME] == ANALYZE
                   and has_ancestor(spans, i, SQL))
    out["catalog.analyze_attempts_per_op"] = ratio(attempts, len(sql_idx))
    out["sources.reader_fallbacks_per_op"] = per_op(
        sum(1 for s in named(LOAD) if s[ERROR]))

    out["engine.analyze_ms_per_op"] = per_op(
        sum(map(duration_ms, named(ANALYZE))))
    out["engine.execute_ms_per_op"] = per_op(
        sum(map(duration_ms, named(ACTION))))
    for key, name in (("jobs", "jobs_per_op"), ("tasks", "tasks_per_op"),
                      ("files", "files_read_per_op")):
        out[f"engine.{name}"] = per_op(sum(op.get(key, 0) for op in ops))
    out["engine.scan_rows_per_result_row"] = ratio(
        sum(op.get("scan_rows", 0) for op in ops),
        sum(op.get("rows", 0) for op in ops))
    out["infoschema.build_ms_per_op"] = per_op(sum(
        duration_ms(s) for s in op_spans if layer(s[NAME]) == "infoschema"))

    # snapshot loads on behalf of a read, not inside a commit
    reads = [spans[i] for i in idx if spans[i][NAME] in READS
             and not any(has_ancestor(spans, i, c) for c in COMMITS)]
    commits = [op for op in ops if op.get("commit")]
    out["sources.read_snapshot_ms_per_read"] = ratio(
        sum(map(duration_ms, reads)), len(reads))
    out["sources.log_entries_per_read"] = ratio(
        sum(s[N] for s in reads), len(reads))
    out["sources.commit_ms_per_commit"] = ratio(
        sum(map(duration_ms, named(*COMMITS))), len(commits))
    out["sources.bytes_written_per_user_byte"] = ratio(
        sum(op["bytes_written"] for op in commits),
        sum(op["user_bytes"] for op in commits))

    for name in LAYERS:
        out[f"self_ms_per_op.{name}"] = per_op(
            sum(selfs[i] for i in idx if layer(spans[i][NAME]) == name))
    return out
