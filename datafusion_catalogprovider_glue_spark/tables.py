"""Testdata table access.

The driver's synthetic tables (see /root/repo/TESTDATA.md) are one
parquet file per table under an sf-dir.  Loading is declarative
(``spark.read.parquet``) so Catalyst gets predicate pushdown, column
pruning and (on partitioned layouts) partition pruning for free —
the same metadata story the reference sets up for DataFusion via
``ListingTable`` (glue.rs:257-272).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True when events.parquet stores ``ts`` as TIMESTAMP(NANOS).

    Spark's parquet reader rejects NANOS outright
    ([PARQUET_TYPE_ILLEGAL]) when it infers the schema, so nano files
    read ``ts`` as raw int64 through an explicit bigint schema, then
    rebuild it as µs; µs files read natively as TIMESTAMP_NTZ.
    Footer-driven so both generations of the testdata work.
    """
    import pyarrow.parquet as pq

    t = str(pq.read_schema(table_path(sf_dir, "events")).field("ts").type)
    return t.startswith("timestamp[ns")


def ensure_micros_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events time column to a plain µs ``TimestampType``.

    Handles both generations of the driver testdata: raw int64 nanos
    (read through ``events_raw_ddl`` — rebuilt with the ns→µs truncation
    SURVEY §1.3 accepts, glue.rs:466) and native µs TIMESTAMP_NTZ
    (cast; value-identical under the engine's pinned UTC session tz).
    Keeping one output type means every downstream operator
    (``unix_micros`` frames, watermarks, window functions) sees the
    same ts dtype regardless of the physical file encoding.
    """
    dtype = dict(df.dtypes).get(col)
    from pyspark.sql import functions as F

    if dtype == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def events_raw_ddl(sf_dir: str) -> str:
    """DDL schema matching the *physical* events parquet, for streaming
    file sources (readStream requires an explicit schema) and for nano
    batch reads.  ``ts`` is bigint for NANOS files (rebuilt by
    ``ensure_micros_ts``; no session conf is needed once the schema is
    explicit) and timestamp_ntz for µs files."""
    ts_ddl = "bigint" if _events_ts_is_nanos(sf_dir) else "timestamp_ntz"
    return (
        f"event_id bigint, ts {ts_ddl}, user_id bigint, event_type string, "
        "value double, props string"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        reader = spark.read
        if _events_ts_is_nanos(sf_dir):
            reader = reader.schema(events_raw_ddl(sf_dir))
        return ensure_micros_ts(reader.parquet(table_path(sf_dir, name)))
    return spark.read.parquet(table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every testdata table as a temp view ``<prefix><name>``.

    Mirrors the reference's register_all flow (glue.rs:136-172): every
    table of every database lands in the session catalog so plain SQL
    can reach it.
    """
    names = []
    for name in TABLE_NAMES:
        view = f"{prefix}{name}"
        load_table(spark, sf_dir, name).createOrReplaceTempView(view)
        names.append(view)
    return names
