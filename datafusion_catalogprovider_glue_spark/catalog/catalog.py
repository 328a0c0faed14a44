"""GlueCatalog — the Spark-native analog of the reference's
``GlueCatalogProvider`` (glue.rs:36-571).

Maps Glue catalog metadata (databases, tables, columns, partition
keys, SerDe/format, location) onto Spark: each Glue table becomes a
DataFrame registered as the temp view ``glue__<db>__<table>``, with
the schema either derived from Glue column types (default) or
inferred from the data — the reference's two
``TableRegistrationOptions`` (glue.rs:28-33).

Registration is metadata-only plumbing; execution is Spark SQL over
the views, exactly as the reference delegates execution to DataFusion
(SURVEY.md §0).  Per-table failures are collected, not fatal
(glue.rs:124-132).
"""

from __future__ import annotations

import enum
import os
import re
import threading
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import (
    AwsError,
    DeltaError,
    GlueError,
    NotImplementedYet,
    SparkError,
    wrap_error_with_table_info,
)
from datafusion_catalogprovider_glue_spark.sources.formats import calculate_reader_spec
from datafusion_catalogprovider_glue_spark.types import (
    map_glue_columns_to_spark_schema,
    parse_glue_data_type,
)

CATALOG_NAME = "glue"  # the reference registers itself as "glue" (demo.rs:66)


def _first_data_file(location: str, suffix: str = "") -> Optional[str]:
    """The file a table's format is probed at: ``location`` itself when
    it is not a directory, else the first file ending in ``suffix`` in
    sorted walk order, skipping ``_``/``.`` entries, so a partitioned
    table root (no files of its own) is probed through its first
    partition directory.  None when the directory holds no such file."""
    if not os.path.isdir(location):
        return location
    for root, dirs, files in os.walk(location):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        parts = sorted(
            f for f in files if f.endswith(suffix) and not f.startswith(("_", "."))
        )
        if parts:
            return os.path.join(root, parts[0])
    return None


def _nano_timestamp_columns(location: str) -> set[str]:
    """Top-level TIMESTAMP(NANOS) columns in a parquet file/dir, probed
    at its first data file.

    Spark's parquet reader rejects nano timestamps outright
    ([PARQUET_TYPE_ILLEGAL]); the reference maps Glue ``timestamp`` to
    nanoseconds and its README documents the matching inference
    failure class (README.md:57-60).  We instead detect nanos from the
    footer at registration (driver-side metadata read, same cost class
    as the reference's infer path) and transparently rebuild them as
    µs-truncated timestamps — the truncation §1.3 already accepts.
    Best-effort: any inspection failure returns the empty set and the
    plain read path proceeds (and raises its own, clearer error)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        path = _first_data_file(location, ".parquet")
        return set() if path is None else {
            f.name
            for f in pq.read_schema(path)
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        }
    except Exception:
        return set()


def _is_ion_binary(location: str) -> bool:
    """Whether an IonHiveSerDe table's first data file carries the
    binary Ion version marker (a table mixing text and binary Ion is
    malformed either way).  Object-store locations skip the probe (no
    cheap peek): they keep the reference's JSON approximation."""
    from datafusion_catalogprovider_glue_spark.sources.ion_binary import (
        is_ion_binary_file,
    )

    if "://" in location:
        return False
    path = _first_data_file(location)
    try:
        return path is not None and is_ion_binary_file(path)
    except OSError:
        return False


def _rebuild_nano_columns(df: DataFrame, nano_cols: set[str]) -> DataFrame:
    """Rebuild nano-timestamp columns (read as raw int64 through a
    bigint read schema) as µs-truncated TIMESTAMP_NTZ: ns→µs is the
    deviation §1.3 already accepts (glue.rs:466), NTZ matches the
    tz-naive reference mapping, and the epoch arithmetic is
    session-timezone-independent."""
    for c in sorted(nano_cols):
        if c in df.columns:
            df = df.withColumn(
                c,
                F.expr(
                    f"timestampadd(MICROSECOND, `{c}` div 1000, "
                    f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def _parse_regex_lines(
    df: DataFrame, regex: str, schema: T.StructType, keys: list[str]
) -> DataFrame:
    """Hive RegexSerDe lowering of a text load's ``value`` lines: Spark
    has no regex datasource, so capture group i+1 becomes column i,
    cast to the declared type, through one ``regexp_extract`` each —
    all scan-stage codegen, zero Python — and the partition ``keys``
    pass through.  Hive semantics: a line that does NOT match the
    pattern yields an all-NULL row (never an error), which the
    ``rlike`` guard reproduces."""
    # Hive RegexSerDe matches the FULL line (Pattern.matches), while
    # rlike/regexp_extract do substring search — anchor as a
    # non-capturing group so group indices 1..N are unshifted and an
    # unanchored input.regex can't parse a line Hive would NULL out.
    pattern = "^(?:" + regex + ")$"
    matched = F.col("value").rlike(pattern)
    cols = [
        F.when(matched, F.regexp_extract(F.col("value"), pattern, i + 1))
        .otherwise(F.lit(None))
        .cast(f.dataType)
        .alias(f.name)
        for i, f in enumerate(schema.fields)
    ]
    return df.select(*cols, *keys)


def _quoted(view: str) -> str:
    """``view`` as one identifier, whatever characters the Glue names hold."""
    return "`" + view.replace("`", "``") + "`"


def _jvm_has_source(spark: SparkSession, fmt: str) -> bool:
    """True when the session's JVM resolves the data source ``fmt``."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            fmt, spark._jsparkSession.sessionState().conf()
        )
    except (AnalysisException, Py4JJavaError):  # not found, or not loadable
        return False
    return True


HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# characters Hive (and Spark's ExternalCatalogUtils.escapePathName)
# write as %XX in a partition directory name
_HIVE_ESCAPED = frozenset("\"#%'*/:=?\\\x7f{[]^") | frozenset(map(chr, range(1, 32)))
_INTEGRAL_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _hive_escape(value: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in value)


def _file_index_reads_exactly(value: str, dtype: T.DataType) -> bool:
    """True when Spark's file index reads the partition value ``value``
    as exactly what casting it to ``dtype`` at query time yields: any
    string, an in-range integer, or a valid ISO date.  Everything else
    differs somewhere.  The file index reads ``__HIVE_DEFAULT_PARTITION__``
    as NULL for every type (the cast reads it as the string itself, or
    as NULL or an error for other types, by ANSI mode); it rejects an
    empty value; and it casts once at registration, so a malformed
    value fails the registration, and a time-zone-dependent cast
    (timestamp keys) freezes the registering session's zone."""
    if value in ("", HIVE_DEFAULT_PARTITION):
        return False
    if isinstance(dtype, T.StringType):
        return True
    bits = next((b for t, b in _INTEGRAL_BITS.items() if isinstance(dtype, t)), 0)
    if bits:
        return (
            re.fullmatch(r"-?\d+", value) is not None
            and -(2 ** (bits - 1)) <= int(value) < 2 ** (bits - 1)
        )
    if isinstance(dtype, T.DateType):
        from datetime import date

        try:
            date.fromisoformat(value)
        except ValueError:
            return False
        return re.fullmatch(r"\d{4}-\d{2}-\d{2}", value) is not None
    return False


def _hive_partition_paths(
    location: str,
    keys: list[tuple[str, T.DataType]],
    partitions: list[tuple[list[str], str]],
) -> Optional[list[str]]:
    """The locations of ``partitions`` (``(values, location)`` pairs)
    when the list is in the Hive layout, else None.  Hive layout: every
    location is ``<location>/k1=v1[/k2=v2…]`` with the ``keys`` in
    order and each path value the Hive-escaped Glue value (so it
    unescapes to exactly that value), and every value is one the file
    index reads as the union path does (``_file_index_reads_exactly``).
    Comparing against the escaped form also rejects raw glob
    characters, which a load would expand."""
    root = location.rstrip("/")
    types = [t for _, t in keys]
    paths = []
    for values, loc in partitions:
        if not all(map(_file_index_reads_exactly, values, types)):
            return None
        loc = loc.rstrip("/")
        segments = [
            f"{_hive_escape(k)}={_hive_escape(v)}"
            for (k, _), v in zip(keys, values)
        ]
        if loc != "/".join([root, *segments]):
            return None
        paths.append(loc)
    return paths


class TableRegistrationOptions(enum.Enum):
    """glue.rs:28-33."""

    DERIVE_SCHEMA_FROM_GLUE_TABLE = "derive"
    INFER_SCHEMA_FROM_DATA = "infer"


@dataclass
class TableEntry:
    """Registry record backing information_schema (SURVEY.md §3 EP3)."""

    database: str
    table: str
    view: str
    schema: T.StructType
    format: str
    location: str
    options: dict[str, str] = field(default_factory=dict)
    partition_keys: list[tuple[str, str]] = field(default_factory=list)
    is_delta: bool = False
    # registered partition inventory ({"values": [...], "location": s})
    # — what information_schema.partitions projects (A13's inspection
    # symmetry); empty for unpartitioned / discovery-scanned tables
    partitions: list[dict] = field(default_factory=list)


RegistrationResult = Union[TableEntry, GlueError]


class GlueCatalog:
    """One catalog = one Glue account/region (glue.rs:36-40)."""

    def __init__(self, spark: SparkSession, glue_client, view_prefix: str = "glue__"):
        self.spark = spark
        self.client = glue_client
        self.view_prefix = view_prefix
        # {database: {table: TableEntry}} — the lazy per-database
        # schema-provider map of the reference (glue.rs:286-296) is a
        # plain nested dict here.
        self._registry: dict[str, dict[str, TableEntry]] = {}
        # single-flight lazy registration: one lock per (db, table),
        # created under _flights_lock
        self._flights: dict[tuple[str, str], threading.Lock] = {}
        self._flights_lock = threading.Lock()

    # -- naming -----------------------------------------------------------
    def view_name(self, database: str, table: str) -> str:
        return f"{self.view_prefix}{database}__{table}"

    # -- registration (A2-A7) ---------------------------------------------
    def register_table(
        self,
        database: str,
        table: str,
        options: TableRegistrationOptions = TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE,
        partition_expression: Optional[str] = None,
        version_id: Optional[str] = None,
    ) -> TableEntry:
        """A2: fetch ONE table (GetTable) and register it (glue.rs:55-90).

        ``partition_expression`` (A13d) pushes a Glue partition-filter
        expression into GetPartitions so the SERVICE prunes partitions
        before they ever reach the client — at 10⁵ partitions the
        full-pagination A13b path makes registration itself the
        bottleneck (100 pages of metadata to then discard client-side);
        the expression keeps both the payload and the page count
        proportional to the partitions actually wanted.  Only
        meaningful for tables with explicit Glue partitions; the
        registered table exposes exactly the matching partitions.

        ``version_id`` (A26, r10) registers a HISTORICAL table version
        via ``GetTableVersion`` — catalog-plane time travel: every
        UpdateTable creates a version holding the full old Table dict
        (schema AND location), so "what did this table look like
        before the migration" is one API call, with the historical
        schema/location registered exactly like a current table.
        Exactly ONE GetTableVersion round trip; the versioned view is
        registered under ``<view>__v<id>`` so current and historical
        versions coexist in one session.  Glue keeps ONE partition
        list per table, for its current version, so a versioned
        registration makes no GetPartitions call: a partitioned
        version reads the Hive-style directories under its own
        location (or its projection parameters)."""
        if version_id is not None:
            response = self.client.get_table_version(
                DatabaseName=database, TableName=table, VersionId=version_id
            )
            tbl = dict(response["TableVersion"]["Table"])
            tbl.setdefault("DatabaseName", database)
            # suffix the registered name: current and historical
            # versions must not clobber each other's views
            tbl = {**tbl, "Name": f"{tbl.get('Name', table)}__v{version_id}"}
            return self._register_glue_table(
                tbl, options, partition_expression=partition_expression,
                glue_partitions=False,
            )
        response = self.client.get_table(DatabaseName=database, Name=table)
        return self._register_glue_table(
            response["Table"], options,
            partition_expression=partition_expression,
        )

    def register_tables(
        self,
        database: str,
        options: TableRegistrationOptions = TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE,
    ) -> list[RegistrationResult]:
        """A3: register every table of one database; per-table failures
        are collected, not raised (glue.rs:93-133).  Follows NextToken
        pagination — live Glue caps GetTables at 100 tables/page."""
        results: list[RegistrationResult] = []
        token: dict = {}
        while True:
            response = self.client.get_tables(DatabaseName=database, **token)
            for tbl in response["TableList"]:
                try:
                    results.append(self._register_glue_table(tbl, options))
                except GlueError as err:
                    results.append(
                        wrap_error_with_table_info(database, tbl.get("Name", "?"), err)
                    )
            next_token = response.get("NextToken")
            if not next_token:
                return results
            token = {"NextToken": next_token}

    def register_all(
        self,
        options: TableRegistrationOptions = TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE,
    ) -> list[RegistrationResult]:
        """A4: GetDatabases × GetTables — whole catalog (glue.rs:136-172),
        with NextToken pagination on the database listing too."""
        results: list[RegistrationResult] = []
        token: dict = {}
        while True:
            response = self.client.get_databases(**token)
            for db in response["DatabaseList"]:
                results.extend(self.register_tables(db["Name"], options))
            next_token = response.get("NextToken")
            if not next_token:
                return results
            token = {"NextToken": next_token}

    def _register_glue_table(
        self, table: dict, options: TableRegistrationOptions,
        partition_expression: Optional[str] = None,
        glue_partitions: bool = True,
    ) -> TableEntry:
        """A5 dispatch: delta vs listing (glue.rs:174-212)."""
        database = table.get("DatabaseName")
        name = table.get("Name")
        if not database:
            raise SparkError("Failed to find database name in table")
        if not name:
            raise SparkError("Failed to find table name")
        params = table.get("Parameters") or {}
        table_type = params.get("table_type", "").lower()
        if table_type == "delta":  # glue.rs:191-196
            return self._register_delta_table(database, name, table)
        if table_type == "iceberg":
            # A5b (r10): Athena/Glue-managed Iceberg tables carry
            # Parameters.table_type=ICEBERG — the reference has no
            # answer (only delta dispatches, glue.rs:191); route to
            # the built-in metadata-chain reader the same way
            return self._register_iceberg_table(database, name, table)
        if table_type == "hudi":
            # A5c (r10): Hudi Glue sync writes table_type=hudi (plus a
            # .hoodie dir under the location) — timeline-replay reader
            return self._register_hudi_table(database, name, table)
        return self._register_listing_table(
            database, name, table, options,
            partition_expression=partition_expression,
            glue_partitions=glue_partitions,
        )

    def _register_iceberg_table(
        self, database: str, name: str, table: dict
    ) -> TableEntry:
        """A5b: load the Iceberg metadata chain as the table (the
        self-reading analog of _register_delta_table — the catalog
        never needs the iceberg-spark runtime JAR)."""
        from datafusion_catalogprovider_glue_spark.sources.iceberg import (
            read_iceberg,
        )

        location = self._table_location(database, name, table)
        df = read_iceberg(self.spark, location)
        return self._finish(database, name, df, "iceberg", location)

    def _register_hudi_table(
        self, database: str, name: str, table: dict
    ) -> TableEntry:
        """A5c: load the Hudi timeline as the table (CoW snapshot
        read).  A MERGE-ON-READ table (deltacommits in the timeline)
        REFUSES unless the Glue parameters opt into the
        read-optimized view — silently serving base files only would
        drop every un-compacted log record, the worst failure mode;
        real Hudi Glue sync registers MoR tables as _ro/_rt pairs for
        exactly this reason.  Snapshot MoR reads need the record key
        and go through sources/hudi.read_hudi_mor directly."""
        from datafusion_catalogprovider_glue_spark.sources.hudi import (
            read_hudi,
        )

        location = self._table_location(database, name, table)
        params = table.get("Parameters") or {}
        tl = os.path.join(location, ".hoodie")
        has_deltacommits = os.path.isdir(tl) and any(
            f.endswith(".deltacommit") for f in os.listdir(tl)
        )
        if has_deltacommits and params.get(
            "hoodie.query.as.ro.table", ""
        ).lower() != "true":
            raise SparkError(
                f"hudi table {database}.{name} is MERGE-ON-READ "
                "(deltacommits present): a base-file-only read would "
                "silently drop un-compacted log records.  Register the "
                "read-optimized view with Parameters "
                "hoodie.query.as.ro.table=true, or use "
                "sources/hudi.read_hudi_mor(key_col) for snapshot "
                "semantics"
            )
        df = read_hudi(self.spark, location)
        return self._finish(database, name, df, "hudi", location)

    def _register_delta_table(self, database: str, name: str, table: dict) -> TableEntry:
        """A6 (glue.rs:214-240): load the Delta log as the table, with
        the delta-spark JVM source (full protocol support) when the
        session has it, else with the built-in snapshot reader
        (sources/delta.py) — like the reference, which reads
        ``_delta_log`` itself rather than needing a Delta engine.  The
        choice is made once per catalog (``_has_jvm_source``); a failure
        on the chosen reader raises ``DeltaError``, never a retry on
        the other."""
        from datafusion_catalogprovider_glue_spark.sources import delta

        location = self._table_location(database, name, table)
        jvm = self._has_jvm_source("delta")
        try:
            if jvm:
                df = self.spark.read.format("delta").load(location)
            else:
                df = delta.read_delta(self.spark, location)
        except DeltaError:
            raise
        except Exception as exc:
            raise DeltaError(f"failed to load delta table at {location}: {exc}") from exc
        return self._finish(database, name, df, "delta", location)

    @staticmethod
    def _projection_partitions(
        params: dict,
        partition_keys: list[tuple[str, str]],
        location: str,
    ) -> list[dict]:
        """AWS Glue PARTITION PROJECTION (public Athena/Glue feature):
        when ``projection.enabled=true``, partition values are
        ENUMERATED from table parameters instead of calling
        GetPartitions — the layout teams use to skip partition
        registration entirely on date/shard-partitioned data lakes.

        Supported projection types (the common three): ``enum``
        (``projection.<k>.values``), ``integer``
        (``projection.<k>.range`` lo,hi + optional ``.interval``), and
        ``date`` (``projection.<k>.range`` + ``.format`` —
        ``yyyy-MM-dd`` — + optional ``.interval`` in days).  Locations
        come from ``storage.location.template`` with ``${k}``
        substitution, falling back to Hive-style ``<root>/k=v`` dirs.
        The cartesian product across keys is driver-side metadata,
        exactly like an explicit partition list."""
        if str(params.get("projection.enabled", "")).lower() != "true":
            return []
        from datetime import date, timedelta

        per_key: list[list[str]] = []
        for key, _ktype in partition_keys:
            ptype = params.get(f"projection.{key}.type")
            if ptype == "enum":
                vals = [
                    v.strip()
                    for v in params[f"projection.{key}.values"].split(",")
                ]
            elif ptype == "integer":
                lo, hi = (
                    int(x)
                    for x in params[f"projection.{key}.range"].split(",")
                )
                step = int(params.get(f"projection.{key}.interval", 1))
                vals = [str(v) for v in range(lo, hi + 1, step)]
            elif ptype == "date":
                fmt = params.get(f"projection.{key}.format", "yyyy-MM-dd")
                if fmt != "yyyy-MM-dd":
                    raise SparkError(
                        f"partition projection: unsupported date format "
                        f"{fmt!r} (supported: yyyy-MM-dd)"
                    )
                lo_s, hi_s = (
                    x.strip()
                    for x in params[f"projection.{key}.range"].split(",")
                )
                lo_d, hi_d = date.fromisoformat(lo_s), date.fromisoformat(hi_s)
                step_d = timedelta(
                    days=int(params.get(f"projection.{key}.interval", 1))
                )
                vals, cur = [], lo_d
                while cur <= hi_d:
                    vals.append(cur.isoformat())
                    cur += step_d
            else:
                raise SparkError(
                    f"partition projection: unsupported type {ptype!r} "
                    f"for key {key!r} (supported: enum, integer, date)"
                )
            per_key.append(vals)

        template = params.get("storage.location.template")
        combos: list[list[str]] = [[]]
        for vals in per_key:
            combos = [c + [v] for c in combos for v in vals]
        partitions = []
        for values in combos:
            if template:
                loc = template
                for (key, _), v in zip(partition_keys, values):
                    loc = loc.replace("${" + key + "}", v)
            else:
                loc = "/".join(
                    [location.rstrip("/")]
                    + [f"{k}={v}" for (k, _), v in zip(partition_keys, values)]
                )
            partitions.append(
                {"Values": values, "StorageDescriptor": {"Location": loc}}
            )
        return partitions

    def _get_partitions(
        self, database: str, name: str,
        expression: Optional[str] = None,
    ) -> list[dict]:
        """A13b: full GetPartitions pagination (live Glue caps pages at
        1000 partitions).  Clients without the call — or tables with no
        explicit partitions — fall back to Hive-style directory
        discovery.  ``expression`` (A13d) goes to the SERVICE verbatim
        (GetPartitions Expression=...), which filters before paging —
        the page budget scales with matching partitions, not the
        table's partition count.  A failing call raises ``AwsError``,
        whatever the client raised (``register_tables`` collects it
        as that table's result): returning [] (or the pages fetched
        so far) would silently re-register the table through
        directory discovery, with other partitions and other types
        than Glue declares."""
        getter = getattr(self.client, "get_partitions", None)
        if getter is None:
            return []
        extra = {"Expression": expression} if expression else {}
        parts: list[dict] = []
        token: dict = {}
        while True:
            try:
                response = getter(
                    DatabaseName=database, TableName=name, **extra, **token
                )
            except Exception as err:
                raise AwsError(f"GetPartitions {database}.{name}: {err}") from err
            parts.extend(response.get("Partitions") or [])
            next_token = response.get("NextToken")
            if not next_token:
                return parts
            token = {"NextToken": next_token}

    def _partition_list(
        self,
        database: str,
        name: str,
        table: dict,
        partition_keys: list[tuple[str, str]],
        location: str,
        expression: Optional[str],
        glue_partitions: bool,
    ) -> list[tuple[list[str], str]]:
        """The table's partitions as ``(values, location)`` pairs; []
        when it has none listed, so directory discovery reads it.

        Partition PROJECTION first: projection-enabled tables by
        definition have no registered partitions — the parameter block
        IS the partition list (skipping GetPartitions is the feature's
        point).  Projection enumerates the CONFIGURED value space, not
        what exists; Athena semantics read missing projected partitions
        as empty, so absent local locations are dropped (object-store
        paths pass through — existence is the scan's job there).
        Explicit Glue partitions next: real partitioned Glue tables
        frequently carry per-partition StorageDescriptors whose
        locations are NOT Hive-style dirs under one root — GetPartitions
        is the source of truth when it returns any."""
        partitions = [
            p
            for p in self._projection_partitions(
                table.get("Parameters") or {}, partition_keys, location
            )
            if "://" in p["StorageDescriptor"]["Location"]
            or os.path.exists(p["StorageDescriptor"]["Location"])
        ] or (
            self._get_partitions(database, name, expression=expression)
            if glue_partitions else []
        )
        if expression and not partitions:
            raise SparkError(
                f"partition expression {expression!r} on "
                f"{database}.{name} matched no partitions (or the "
                "table has no explicit Glue partitions) — refusing "
                "a silently empty registration"
            )
        pairs = []
        for p in partitions:
            values = p.get("Values") or []
            if len(values) != len(partition_keys):
                raise GlueError(
                    f"partition of {database}.{name} has {len(values)} "
                    f"values for {len(partition_keys)} partition keys"
                )
            p_loc = (p.get("StorageDescriptor") or {}).get("Location")
            if not p_loc:
                raise GlueError(
                    f"partition {values} of {database}.{name} has no "
                    "StorageDescriptor.Location"
                )
            pairs.append((list(values), p_loc))
        return pairs

    def _register_listing_table(
        self,
        database: str,
        name: str,
        table: dict,
        options: TableRegistrationOptions,
        partition_expression: Optional[str] = None,
        glue_partitions: bool = True,
    ) -> TableEntry:
        """A7 (glue.rs:243-274): format dispatch + schema mode + load.

        One rule registers every listing table, partitioned or not:
        when a file index can read the layout, the table is ONE
        ``_load`` — a flat table of its location; a partitioned table
        with no partition list (directory discovery) of its root; a
        Glue or projection list in the Hive layout
        (``_hive_partition_paths``) of its partition directories; the
        last two with ``basePath`` at the table root.  That is the
        reference's single ListingTable with ``table_partition_cols``
        (glue.rs:257-272,433-447): the file index carries the key
        values, typed as Glue declares them, a filter on a key becomes
        ``PartitionFilters`` that prune files, and the plan has one
        scan whatever the partition count.

        Otherwise — locations scattered anywhere (the layout Hive's
        ALTER TABLE ADD PARTITION ... LOCATION produces), values the
        file index would read differently, or a reader with no file
        index (Avro without spark-avro, binary Ion) — the table is the
        union of one ``_load`` per partition, its values attached as
        literal columns cast to the declared key types; Catalyst drops
        the branches whose literals fail a query predicate.  Data files
        do not hold the key columns (the Hive convention Glue inherits).

        An IonHiveSerDe table reads as JSON (the reference's
        approximation, glue.rs:421-425) unless the first data file of
        its first partition, or of its location, is BINARY Ion: then
        its format is ``ion-binary``, read the same way by the
        pure-Python decoder.  A RegexSerDe table is a text load the
        same way, then one ``regexp_extract`` per Glue column
        (``_parse_regex_lines``)."""
        sd = self._storage_descriptor(database, name, table)
        location = self._table_location(database, name, table)
        spec = calculate_reader_spec(sd)
        if spec.format == "regex":
            if options is not TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE:
                raise SparkError(
                    "RegexSerDe tables require the Glue-schema mode: the "
                    "pattern's capture groups carry no types to infer"
                )
            if not sd.get("Columns"):
                raise GlueError(
                    f"RegexSerDe table {database}.{name} has no columns"
                )

        partition_keys = [
            (k["Name"], k["Type"]) for k in (table.get("PartitionKeys") or [])
        ]
        keys = [(k, parse_glue_data_type(t)) for k, t in partition_keys]
        pairs = self._partition_list(
            database, name, table, partition_keys, location,
            partition_expression, glue_partitions,
        ) if keys else []
        if spec.ion_fallback and _is_ion_binary(pairs[0][1] if pairs else location):
            spec = replace(spec, format="ion-binary")
        one_load = (
            self._file_index(spec) and _hive_partition_paths(location, keys, pairs)
            if pairs else [location]
        )
        if one_load:
            df = self._load(spec, sd, options, one_load, keys, location)
        else:
            # NULLIF(v, NULL) is v, typed nullable like the file index's
            # key columns: Glue declares no nullability
            df = reduce(DataFrame.unionByName, [
                self._load(spec, sd, options, [p_loc]).withColumns({
                    k: F.nullif(F.lit(raw).cast(t), F.lit(None))
                    for (k, t), raw in zip(keys, values)
                })
                for values, p_loc in pairs
            ])
        if spec.format == "regex":
            df = _parse_regex_lines(
                df, spec.options["input.regex"],
                map_glue_columns_to_spark_schema(sd["Columns"]),
                [k for k, _ in keys],
            )
        return self._finish(
            database, name, df, spec.format, location, spec.options,
            partition_keys,
            [{"values": values, "location": p_loc} for values, p_loc in pairs],
        )

    def _load(
        self,
        spec,
        sd: dict,
        options: TableRegistrationOptions,
        paths: list[str],
        keys: list[tuple[str, T.DataType]] = (),
        base_path: Optional[str] = None,
    ) -> DataFrame:
        """Load ``paths`` as one DataFrame: the data columns, then the
        declared ``keys`` with their Glue types, all nullable, whose
        values the file index reads from the paths below ``base_path``
        (the table root; unused without keys).  The data columns are
        the Glue columns in derive mode and a RegexSerDe table's raw
        line; in infer mode, or without Glue columns, the data decides,
        with one schema-only load of ``paths`` without ``basePath`` when
        there are keys to append or nano-timestamp columns.  Nano
        columns (``_nano_columns``) always read through an explicit
        bigint read schema and are rebuilt; only that schema-only load
        needs the ``nanosAsLong`` conf, so it runs in a child session
        and this session's conf never changes.  A reader without a file
        index reads one location and no partition directories.  Every
        load failure raises ``SparkError``."""
        nano_cols = self._nano_columns(spec, paths[0])
        schema = (
            T.StructType([T.StructField("value", T.StringType())])
            if spec.format == "regex"
            else self._read_schema(sd, options, nano_cols)
        )
        try:
            if not self._file_index(spec):
                if keys:
                    raise SparkError(
                        f"{spec.format} table at {paths[0]}: its reader has "
                        "no file index to read partition directories — "
                        "list them in Glue"
                    )
                from datafusion_catalogprovider_glue_spark.sources import (
                    avro_fallback,
                    ion_binary,
                )

                read, sample = (
                    (ion_binary.read_ion_binary,
                     ion_binary.schema_from_ion_binary_file)
                    if spec.format == "ion-binary"
                    else (avro_fallback.read_avro_fallback,
                          avro_fallback.schema_from_avro_file)
                )
                return read(self.spark, paths[0], schema or sample(paths[0]))
            fmt, fmt_options = (
                ("text", {}) if spec.format == "regex" else (spec.format, spec.options)
            )
            if (
                options is TableRegistrationOptions.INFER_SCHEMA_FROM_DATA
                and fmt in ("csv", "json")
            ):
                # InferSchemaFromData (glue.rs:266): sample the files.
                # Parquet/avro/delta are self-describing.
                fmt_options = {**fmt_options, "inferSchema": "true"}
            if schema is None and (keys or nano_cols):
                session = self.spark
                if nano_cols:
                    # schema inference is the one read that needs the
                    # conf; a child session keeps it out of this one
                    session = self.spark.newSession()
                    session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                schema = (
                    session.read.format(fmt).options(**fmt_options).load(paths).schema
                )
            reader = self.spark.read.format(fmt).options(**fmt_options)
            if keys:
                names = {k for k, _ in keys}
                schema = T.StructType(
                    [f for f in schema.fields if f.name not in names]
                    + [T.StructField(k, t, True) for k, t in keys]
                )
                reader = reader.option("basePath", base_path.rstrip("/"))
            if schema is not None:
                reader = reader.schema(schema)
            return _rebuild_nano_columns(reader.load(paths), nano_cols)
        except GlueError:
            raise
        except Exception as exc:
            raise SparkError(
                f"failed to read {spec.format} at {', '.join(paths)}: {exc}"
            ) from exc

    def _file_index(self, spec) -> bool:
        """Whether ``spec`` reads through a Spark file source, whose file
        index reads many paths and partition directories at once: every
        format but binary Ion and Avro without the spark-avro JVM
        source, whose built-in readers read one location at a time."""
        return spec.format != "ion-binary" and (
            spec.format != "avro" or self._has_jvm_source("avro")
        )

    def _has_jvm_source(self, fmt: str) -> bool:
        """Whether the session's JVM resolves the data source ``fmt``,
        looked up once per SparkContext (whose JVM classpath fixes the
        answer) and cached on it, like ``session._ship_package``'s flag:
        registration then takes one reader per format instead of
        throwing a failed load per table, and a new catalog on the same
        session repeats no failed lookup."""
        with self._flights_lock:
            known = vars(self.spark.sparkContext).setdefault("_dcg_jvm_sources", {})
            if fmt not in known:
                known[fmt] = _jvm_has_source(self.spark, fmt)
            return known[fmt]

    @staticmethod
    def _nano_columns(spec, probe: str) -> set[str]:
        """The nano-timestamp columns of a parquet table, probed at
        ``probe``.  They read as raw int64 through an explicit bigint
        read schema, never through the session conf, and
        ``_rebuild_nano_columns`` makes them timestamps."""
        return _nano_timestamp_columns(probe) if spec.format == "parquet" else set()

    @staticmethod
    def _read_schema(
        sd: dict, options: TableRegistrationOptions, nano_cols: set[str]
    ) -> Optional[T.StructType]:
        """The Glue columns as the read schema in derive mode, with
        nano-timestamp columns read as bigint; None when the data
        decides (infer mode, or a table without columns)."""
        if options is not TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE:
            return None
        schema = map_glue_columns_to_spark_schema(sd.get("Columns") or [])
        if not schema.fields:
            return None
        return T.StructType(
            [
                T.StructField(f.name, T.LongType(), True)
                if f.name in nano_cols
                else f
                for f in schema.fields
            ]
        )

    def _finish(
        self,
        database: str,
        name: str,
        df: DataFrame,
        fmt: str,
        location: str,
        options: Optional[dict[str, str]] = None,
        partition_keys: Optional[list[tuple[str, str]]] = None,
        partitions: Optional[list[dict]] = None,
    ) -> TableEntry:
        """Register ``df`` as the table's temp view and its registry entry."""
        view = self.view_name(database, name)
        df.createOrReplaceTempView(_quoted(view))
        entry = TableEntry(
            database, name, view, T.StructType(df.schema), fmt, location,
            dict(options or {}), list(partition_keys or []), fmt == "delta",
            list(partitions or []),
        )
        self._registry.setdefault(database, {})[name] = entry
        return entry

    # -- accessors / guards (A17-A19) --------------------------------------
    def database_names(self) -> list[str]:
        """A17 ``schema_names`` (glue.rs:548-556)."""
        return sorted(db for db, tables in self._registry.items() if tables)

    def table_names(self, database: str) -> list[str]:
        return sorted(self._registry.get(database, {}))

    def entries(self) -> list[TableEntry]:
        return [
            self._registry[db][t]
            for db in sorted(self._registry)
            for t in sorted(self._registry[db])
        ]

    def table(self, database: str, name: str) -> Optional[TableEntry]:
        return self._registry.get(database, {}).get(name)

    def df(self, database: str, name: str) -> DataFrame:
        """LAZY table resolution (the reference's analysis-time
        ``schema()`` lookup, glue.rs:557-562): an unregistered table is
        fetched with exactly ONE GetTable on first reference instead of
        requiring an up-front ``register_all()``.  On a 10k-table Glue
        catalog that is the difference between one round trip for the
        one table a query touches and 10k GetTable+read registrations
        before the first query runs."""
        return self.spark.table(_quoted(self._resolve(database, name).view))

    def _resolve(self, database: str, name: str) -> TableEntry:
        """The registry entry for ``database.name``, registered with one
        GetTable on a miss.  Single-flight per table: callers that miss
        on the same table at once wait for the first registration and
        then read it from the registry, so concurrent ``sql()`` /
        ``df()`` calls make one GetTable and one registration, not one
        each with the last writer winning."""
        entry = self.table(database, name)
        if entry is not None:
            return entry
        with self._flights_lock:
            flight = self._flights.setdefault((database, name), threading.Lock())
        with flight:
            entry = self.table(database, name)
            return entry if entry is not None else self.register_table(database, name)

    def invalidate(self, database: str, name: str) -> None:
        """Forget ``database.name``: drop its registry entry and its
        temp view, so the next ``sql()`` / ``df()`` fetches the table
        again with one GetTable.  The registry never refreshes by
        itself; call this after the Glue table changes.  A table this
        catalog has not registered is left alone, view included."""
        with self._flights_lock:
            flight = self._flights.setdefault((database, name), threading.Lock())
        with flight:
            if self._registry.get(database, {}).pop(name, None) is not None:
                self.spark.catalog.dropTempView(self.view_name(database, name))

    # view names look like {prefix}{db}__{table}; maps a view name the
    # SQL text uses back to the Glue coordinates to fetch
    def _parse_view_name(self, view: str) -> Optional[tuple[str, str]]:
        if not view.startswith(self.view_prefix):
            return None
        rest = view[len(self.view_prefix):]
        db, sep, table = rest.partition("__")
        return (db, table) if sep and db and table else None

    # identifier atom for the dotted-reference rewrite: a plain SQL
    # identifier or a backquoted one
    _IDENT_RE = r"(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)"

    def _rewrite_three_part(self, text: str) -> tuple[str, list[tuple[str, str]]]:
        """Rewrite ``glue.db.table`` THREE-PART identifiers (how the
        reference's users address tables, demo.rs:68-90) onto the
        ``{prefix}db__table`` view namespace before analysis, and
        collect the catalog tables the text references.  Only
        segments OUTSIDE string literals ('…' with '' escapes AND
        Spark's default "…" double-quoted literal form) and outside
        ``--``/``/* */`` comments rewrite, and only references
        leading with this catalog's name — other catalogs' dotted
        names pass through to Spark untouched.  Backquoted parts
        unquote, and a rewritten name whose segments were quoted is
        RE-backquoted (``glue.`my db`.`t-1``` must stay one legal
        identifier after the rewrite).

        Returns the rewritten text and, in text order without
        repeats, the ``(db, table)`` of every ``{prefix}db__table``
        identifier in its code segments: rewritten three-part names
        and view names written directly, bare or backquoted, as the
        string argument of an ``IDENTIFIER('…')`` clause, or inside
        the statement literal of ``EXECUTE IMMEDIATE '…'`` (whose
        text is not rewritten).  A name qualified by a dot
        (``other.glue__a__b``) is not ours, nor is the target of
        ``DROP``/``CREATE``/``ALTER VIEW [IF [NOT] EXISTS]``, which
        names a view to remove or define, not a table to read.  This
        list is what sql() registers before its one analysis.  Known
        textual limits: a struct access through a table alias
        literally named ``glue`` (``glue.col.field``) is
        indistinguishable from a three-part reference; a column or
        CTE spelled like a view name is collected too (sql()
        tolerates the failed lookup), and so is the target of a
        TABLE-keyword statement (``DROP TABLE glue__a__b``); a
        statement passed to ``EXECUTE IMMEDIATE`` through a variable
        is not seen — telling these apart needs a full parse."""
        pat = re.compile(
            rf"\b{CATALOG_NAME}\.({self._IDENT_RE})\.({self._IDENT_RE})"
        )
        prefix = re.escape(self.view_prefix)
        view_ref = re.compile(rf"(?<![\w.`])(?:`({prefix}[^`]+)`|({prefix}\w+))")
        # the code before a view name that makes it a DDL target, and
        # before a literal that makes the literal a name or a statement
        ddl_target = re.compile(r"\bVIEW\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?$", re.I)
        identifier_arg = re.compile(r"\bIDENTIFIER\s*\(\s*$", re.I)
        immediate_arg = re.compile(r"\bEXECUTE\s+IMMEDIATE\s*$", re.I)
        refs: dict[tuple[str, str], None] = {}

        def _sub(m: "re.Match[str]") -> str:
            quoted = any(g.startswith("`") for g in m.groups())
            db, table = (g.strip("`") for g in m.groups())
            name = self.view_name(db, table)
            return f"`{name}`" if quoted else name

        def _collect(name: str) -> None:
            coords = self._parse_view_name(name)
            if coords is not None:
                refs.setdefault(coords)

        # split out every literal/comment span; only even (code)
        # segments rewrite
        mask = (
            r"('(?:[^']|'')*'"          # '…' with '' escape
            r"|\"(?:[^\"]|\"\")*\""     # "…" literal (default parser mode)
            r"|--[^\n]*"                # line comment
            r"|/\*.*?\*/)"              # block comment
        )

        def _scan(sql: str, rewrite: bool) -> str:
            parts = re.split(mask, sql, flags=re.S)
            for i, p in enumerate(parts):
                if i % 2 == 0:
                    if rewrite:
                        p = pat.sub(_sub, p)
                    for m in view_ref.finditer(p):
                        if not ddl_target.search(p, 0, m.start()):
                            _collect(m.group(1) or m.group(2))
                    parts[i] = p
                elif p[0] in "'\"":
                    body = p[1:-1].replace(p[0] * 2, p[0])
                    if identifier_arg.search(parts[i - 1]):
                        _collect(body.strip("`"))
                    elif immediate_arg.search(parts[i - 1]):
                        _scan(body, rewrite=False)
            return "".join(parts)

        return _scan(text, rewrite=True), list(refs)

    def sql(self, text: str) -> DataFrame:
        """EP2: the SQL entry over registered views (demo.rs:118), with
        THREE-PART IDENTIFIER support (``glue.db.table`` rewrites onto
        the view namespace — the exact spelling the reference's users
        write, demo.rs:68-90) and LAZY resolution before analysis, the
        way the reference looks tables up while analysing
        (glue.rs:557-562): every catalog table the text references
        that the registry lacks is registered first, one GetTable
        each in text order, and then Spark analyses the query exactly
        once.

        The registry decides: a table missing from THIS catalog's
        registry is fetched from its Glue client even when the session
        already holds a same-named temp view (left by another
        GlueCatalog), and the new registration replaces that view.
        Dropping a registered table's view from the session does not
        remove its registry entry; ``register_table`` registers it
        again, and ``invalidate`` drops both.

        A failed lookup is held back, not raised: a CTE or alias
        spelled like a view name (``glue__a__b``) is no Glue table, and
        the query still runs when Spark resolves the name by itself.
        Only when Spark reports that relation missing is the lookup's
        own error (``AwsError`` for an unknown table) raised."""
        from pyspark.errors import AnalysisException

        text, refs = self._rewrite_three_part(text)
        failed: dict[str, Exception] = {}
        for db, table in refs:
            try:
                self._resolve(db, table)
            except Exception as err:  # any client's error, not only ours
                failed[self.view_name(db, table)] = err
        try:
            return self.spark.sql(text)
        except AnalysisException as exc:
            missing = (exc.getMessageParameters() or {}).get("relationName", "")
            err = failed.get(missing.strip("`"))
            if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND" or err is None:
                raise
            raise err from exc

    def register_schema(self, name: str) -> None:
        """A18: deliberately unsupported — this catalog is read-only,
        like the reference's ``unimplemented!()`` (glue.rs:564-570)."""
        raise NotImplementedYet("register_schema is not supported: read-only catalog")

    # -- guards -------------------------------------------------------------
    @staticmethod
    def _storage_descriptor(database: str, name: str, table: dict) -> dict:
        sd = table.get("StorageDescriptor")
        if not sd:
            raise SparkError(f"Failed to find storage descriptor for {database}.{name}")
        return sd

    def _table_location(self, database: str, name: str, table: dict) -> str:
        sd = self._storage_descriptor(database, name, table)
        location = sd.get("Location")
        if not location:
            raise SparkError(f"Failed to find table location for {database}.{name}")
        return location

    # -- smoke runner (A23, demo.rs:92-123) ----------------------------------
    def sample_all(self, limit: int = 10) -> dict[str, Union[list, GlueError]]:
        """Run ``SELECT * LIMIT n`` on every registered view, collecting
        per-table failures like the reference demo."""
        out: dict[str, Union[list, GlueError]] = {}
        for entry in self.entries():
            key = f"{entry.database}.{entry.table}"
            try:
                out[key] = self.spark.table(_quoted(entry.view)).limit(limit).collect()
            except Exception as exc:
                out[key] = SparkError(str(exc))
        return out
