"""The three workloads: set-up, one op, and the correctness check of an
op's result.  Each drives the engine's public API the way a user does.

A workload object lives for one set-up: ``setup`` gets the Spark
session (starting it on the first set-up of a run) and builds the
inputs under its own scratch directory,
``execute`` runs one op and returns its raw output, ``check`` verifies
that output outside the timed interval, and ``teardown`` drops the
set-up's views and deletes its scratch directory.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from perfbench import gen

# Stand-in for the Glue service round trip, added to every Glue call.
GLUE_DELAY_S = 0.010


class DelayedGlue:
    """Benchmark-side Glue client: forwards every call to a
    ``FakeGlueClient`` after a fixed delay, so the number of round trips
    shows in latency.  Each call is one span when tracing."""

    def __init__(self, inner, tracer=None):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, attr):
        fn = getattr(self._inner, attr)
        api = "".join(p.title() for p in attr.split("_"))

        def call(**kwargs):
            time.sleep(GLUE_DELAY_S)
            return fn(**kwargs)

        if self._tracer is None:
            return call
        return lambda **kw: self._tracer.call(
            f"catalog.fake_glue:{api}", call, (), kw)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def quiet_query_context_logs() -> None:
    """PySpark logs every analysis error at ERROR with its stack; lazy
    resolution raises one per unregistered table, which would flood
    stderr with tens of KB per cold op."""
    import logging

    from pyspark.logger import PySparkLogger

    for name in ("SQLQueryContextLogger", "DataFrameQueryContextLogger"):
        PySparkLogger.getLogger(name).setLevel(logging.CRITICAL)


def arrow_frame(spark, rows, schema):
    """A DataFrame from local rows via Arrow, without Python workers."""
    import pyarrow as pa

    columns = zip(*rows)
    return spark.createDataFrame(pa.table(
        [pa.array(c, f.type) for c, f in zip(columns, schema)], schema=schema))


def _schema(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


class Workload:
    """Shared set-up and teardown; subclasses add inputs and ops."""

    name = ""

    def __init__(self, seed: int, root: str, tracer=None):
        self.seed = seed
        self.root = root
        self.tracer = tracer
        self.phases: dict[str, float] = {}
        self.spark = None
        self.catalog = None
        self.ops: list = []
        self.warmup: list = []

    def setup(self) -> None:
        from datafusion_catalogprovider_glue_spark import session

        os.makedirs(self.root)
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("FATAL")
        quiet_query_context_logs()
        t1 = time.perf_counter()
        self.build_fixtures()
        t2 = time.perf_counter()
        self.register()
        t3 = time.perf_counter()
        for op in self.warmup:
            self.execute(op)
        t4 = time.perf_counter()
        self.phases = {"session": t1 - t0, "fixtures": t2 - t1,
                       "register": t3 - t2, "warmup": t4 - t3}

    def teardown(self) -> None:
        """Drop this set-up's views and files; the Spark session stays
        up for the next set-up of the run."""
        if self.spark is not None:
            for table in self.spark.catalog.listTables():
                if table.isTemporary:
                    self.spark.catalog.dropTempView(table.name)
            self.spark = None
        shutil.rmtree(self.root, ignore_errors=True)

    def action(self, df):
        """Collect ``df``: the engine's execution step of an op."""
        if self.tracer is None:
            return df.collect()
        return self.tracer.call("engine:action", df.collect, (), {})

    def glue(self, inner):
        return DelayedGlue(inner, tracer=self.tracer)

    # per-op hooks used by the runner
    def op_class(self, op) -> str:
        """"key" for the op class the workload exists to load, "other"
        for the rest ("" for neither); decided before the op runs."""
        raise NotImplementedError

    def check_all(self, pairs) -> list[bool]:
        """Whether each (op, output) pair is correct."""
        return [self.check(op, out) for op, out in pairs]

    def before(self, op) -> dict:
        return {}

    def after(self, op, info: dict) -> None:
        pass

    def space_amplification(self) -> float:
        return 0.0


# ---------------------------------------------------------------------------


class CatalogCold(Workload):
    """Lazy lookups over a large Glue catalog: the catalog layers do
    almost all the work and execution almost none."""

    name = "catalog_cold"

    def build_fixtures(self):
        from datafusion_catalogprovider_glue_spark.sources import (
            delta_writer, iceberg_writer,
        )

        cat = gen.cold_catalog(self.seed)
        self.databases, self.partitions = gen.cold_glue(cat, self.root)
        gen.materialize_cold(cat, self.root)
        for (kind, i), rows in sorted(cat.lake_rows.items()):
            df = arrow_frame(self.spark, rows, gen.LAKE_SCHEMA)
            path = gen.lake_location(self.root, kind, i)
            if kind == "delta":
                delta_writer.append_delta(df, path, n_files=1)
            else:
                iceberg_writer.append_iceberg(df, path, n_files=1)
        self.ops, self.warmup = cat.ops, cat.warmup_ops

    def register(self):
        from datafusion_catalogprovider_glue_spark.catalog.catalog import (
            GlueCatalog,
        )
        from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
            FakeGlueClient,
        )

        # lazy resolution: nothing is registered until an op names it
        client = FakeGlueClient(self.databases, page_size=gen.COLD_PAGE_SIZE,
                                partitions=self.partitions)
        self.catalog = GlueCatalog(self.spark, self.glue(client))

    def execute(self, op):
        if op.kind == "info":
            from pyspark.sql import functions as F

            from datafusion_catalogprovider_glue_spark import infoschema

            df = infoschema.information_schema_columns(self.catalog).where(
                F.col("table_schema") == op.db)
            return df, self.action(df)
        df = self.catalog.sql(op.sql)
        return df, self.action(df)

    def op_class(self, op) -> str:
        # information_schema ops count in the overall percentiles only:
        # mixed into the warm class, its median would straddle two costs
        if op.kind == "info":
            return ""
        cold = any(self.catalog.table(db, t) is None for db, t in op.tables)
        return "key" if cold else "other"

    def check(self, op, output) -> bool:
        df, rows = output
        if op.kind == "info":
            got = sorted((r.table_name, r.column_name, r.ordinal_position,
                          r.data_type) for r in rows)
            return got == [tuple(x) for x in op.expect]
        return (_schema(df) == op.expect_schema and len(rows) > 0
                and all(v is not None for r in rows for v in r))

    def op_info(self, op, output) -> dict:
        return {"refs": len(op.tables), "rows": len(output[1])}


# ---------------------------------------------------------------------------


class SqlAnalytics(Workload):
    """TPC-H-shaped SQL over a warm registry: execution does the work."""

    name = "sql_analytics"

    def build_fixtures(self):
        tables = gen.tpch_tables(self.seed)
        self.data_dir = os.path.join(self.root, "tpch")
        self.partition_dirs = gen.write_tpch(tables, self.data_dir)
        self.warmup, self.ops = gen.sql_ops(self.seed)

    def register(self):
        from datafusion_catalogprovider_glue_spark.catalog.catalog import (
            GlueCatalog,
        )
        from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
            TESTDATA_GLUE_COLUMNS, FakeGlueClient, parquet_table,
            testdata_fixture,
        )

        declared = {k: [tuple(c) for c in v]
                    for k, v in TESTDATA_GLUE_COLUMNS.items()}
        if declared != gen.TPCH_COLUMNS:
            raise RuntimeError("testdata fixture columns changed; update "
                               "gen.TPCH_COLUMNS to match")
        fixture = testdata_fixture(self.data_dir, "tpch")
        tables = {t["Name"]: t
                  for t in fixture.get_tables(DatabaseName="tpch")["TableList"]}
        partitions = {}
        for src, copy, _date_col, month_col in gen.TPCH_PARTITIONED:
            tables[copy] = parquet_table(
                "tpch", copy, os.path.join(self.data_dir, copy),
                gen.TPCH_COLUMNS[src], partition_keys=[(month_col, "string")])
            sd = {k: v for k, v in tables[copy]["StorageDescriptor"].items()
                  if k != "Location"}
            partitions[("tpch", copy)] = [
                {"Values": [month], "StorageDescriptor": {**sd, "Location": loc}}
                for month, loc in self.partition_dirs[copy]
            ]
        client = FakeGlueClient({"tpch": tables}, page_size=100,
                                partitions=partitions)
        self.catalog = GlueCatalog(self.spark, self.glue(client))
        failed = [r for r in self.catalog.register_all()
                  if isinstance(r, Exception)]
        if failed:
            raise RuntimeError(f"registration failed: {failed[0]}")

    def execute(self, op):
        return self.action(self.catalog.sql(op.sql))

    def op_class(self, op) -> str:
        return "key" if op.kind == "join" else "other"

    def op_info(self, op, output) -> dict:
        return {"refs": len(op.tables), "rows": len(output)}

    def oracle(self):
        """A DuckDB connection with one view per catalog table over the
        same parquet files."""
        import duckdb

        con = duckdb.connect()
        for name in gen.TPCH_COLUMNS:
            path = os.path.join(self.data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW tpch_{name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        for src, copy, date_col, month_col in gen.TPCH_PARTITIONED:
            con.execute(
                f"CREATE VIEW tpch_{copy} AS SELECT *, strftime({date_col}, "
                f"'%Y-%m') AS {month_col} FROM tpch_{src}")
        return con

    def check_all(self, pairs) -> list[bool]:
        con = self.oracle()
        try:
            return [
                _same_rows(rows, con.execute(
                    op.sql.replace("glue.tpch.", "tpch_")).fetchall())
                for op, rows in pairs
            ]
        finally:
            con.close()


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    return v


def _same_rows(spark_rows, duck_rows) -> bool:
    if len(spark_rows) != len(duck_rows):
        return False
    a = sorted((tuple(_norm(v) for v in r) for r in spark_rows), key=repr)
    b = sorted((tuple(_norm(v) for v in r) for r in duck_rows), key=repr)
    for x, y in zip(a, b):
        for u, w in zip(x, y):
            if isinstance(u, float) or isinstance(w, float):
                if not math.isclose(u, w, rel_tol=1e-6, abs_tol=1e-6):
                    return False
            elif u != w:
                return False
    return True


# ---------------------------------------------------------------------------


class TableCommits(Workload):
    """Appends, keyed merges and fresh-registration reads on a Delta and
    an Iceberg table whose logs grow during the run."""

    name = "table_commits"
    ROW_BYTES = 20  # user bytes per row: 8 + 4 + 8

    def path(self, kind: str, warm: bool = False) -> str:
        names = gen.WARM_NAMES if warm else gen.LAKE_NAMES
        return os.path.join(self.root, names[kind])

    def build_fixtures(self):
        # warm-up commits and reads go to separate tables, so the
        # measured tables start exactly at the initial rows
        ci = gen.commit_inputs(self.seed)
        for kind, rows in sorted(ci.initial.items()):
            for warm in (False, True):
                self._append(kind, self.path(kind, warm), rows)
        self.ops, self.warmup = ci.ops, ci.warmup

    def _append(self, kind, path, rows):
        from datafusion_catalogprovider_glue_spark.sources import (
            delta_writer, iceberg_writer,
        )

        df = arrow_frame(self.spark, rows, gen.COMMIT_SCHEMA)
        if kind == "delta":
            return delta_writer.append_delta(df, path, n_files=1)
        return iceberg_writer.append_iceberg(df, path, n_files=1)

    def register(self):
        from datafusion_catalogprovider_glue_spark.catalog.catalog import (
            GlueCatalog,
        )
        from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
            FakeGlueClient,
        )

        tables = {}
        for kind in gen.LAKE_TABLES:
            for warm in (False, True):
                name = (gen.WARM_NAMES if warm else gen.LAKE_NAMES)[kind]
                tables[name] = {
                    "DatabaseName": gen.LAKE_DB, "Name": name,
                    "Parameters": {"table_type": kind.upper()},
                    "PartitionKeys": [],
                    "StorageDescriptor": {
                        "Location": self.path(kind, warm),
                        "Columns": [{"Name": "k", "Type": "bigint"},
                                    {"Name": "g", "Type": "int"},
                                    {"Name": "v", "Type": "bigint"}],
                    },
                }
        client = FakeGlueClient({gen.LAKE_DB: tables})
        self.catalog = GlueCatalog(self.spark, self.glue(client))
        for name in tables:
            self.catalog.register_table(gen.LAKE_DB, name)

    def execute(self, op):
        from datafusion_catalogprovider_glue_spark.sources import (
            delta_writer, iceberg_writer,
        )

        kind = op.tables[0]
        warm = op.db == "warm"
        if op.kind == "read":
            names = gen.WARM_NAMES if warm else gen.LAKE_NAMES
            self.catalog.register_table(gen.LAKE_DB, names[kind])
            return self.action(self.catalog.sql(op.sql))
        path = self.path(kind, warm)
        if op.kind == "append":
            return self._append(kind, path, op.expect)
        df = arrow_frame(self.spark, op.expect, gen.COMMIT_SCHEMA)
        if kind == "delta":
            return delta_writer.merge_delta(self.spark, path, df, on=["k"])
        return iceberg_writer.merge_iceberg(self.spark, path, df, on=["k"])

    def op_class(self, op) -> str:
        return "other" if op.kind == "read" else "key"

    def check(self, op, output) -> bool:
        if op.kind != "read" or op.db == "warm":
            return True  # commits are verified by the reads that follow
        return len(output) == 1 and (output[0].n, output[0].s) == op.expect

    def before(self, op) -> dict:
        """Table bytes a commit starts from (traced runs only)."""
        if op.kind == "read":
            return {}
        return {"bytes_before": dir_bytes(self.path(op.tables[0]))}

    def op_info(self, op, output) -> dict:
        if op.kind == "read":
            return {"refs": 1, "rows": len(output)}
        return {"refs": 0, "commit": True,
                "user_bytes": len(op.expect) * self.ROW_BYTES}

    def after(self, op, info: dict) -> None:
        if op.kind != "read":
            info["bytes_written"] = (dir_bytes(self.path(op.tables[0]))
                                     - info.pop("bytes_before"))

    def space_amplification(self) -> float:
        """Table directory bytes over the bytes of live data files."""
        stored = live = 0
        for kind, name in gen.LAKE_NAMES.items():
            self.catalog.register_table(gen.LAKE_DB, name)
            df = self.spark.table(self.catalog.view_name(gen.LAKE_DB, name))
            stored += dir_bytes(self.path(kind))
            live += sum(os.path.getsize(f.split(":", 1)[-1])
                        for f in df.inputFiles())
        return stored / live if live else 0.0


WORKLOADS = {w.name: w for w in (CatalogCold, SqlAnalytics, TableCommits)}
