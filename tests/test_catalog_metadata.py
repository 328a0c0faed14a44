"""Catalog metadata without Spark work: the information_schema views
are in-memory local relations (no Spark job), each format has one reader
per catalog (no thrown load per table), and ``invalidate`` refetches a
table whose Glue metadata changed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameReader

from datafusion_catalogprovider_glue_spark import infoschema
from datafusion_catalogprovider_glue_spark.catalog import catalog as catalog_module
from datafusion_catalogprovider_glue_spark.catalog.catalog import (
    CATALOG_NAME,
    GlueCatalog,
)
from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
    FakeGlueClient,
    parquet_table,
)
from datafusion_catalogprovider_glue_spark.errors import DeltaError, SparkError
from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
    write_avro_container,
)
from datafusion_catalogprovider_glue_spark.sources.formats import (
    AVRO_IN,
    AVRO_OUT,
    AVRO_SERDE,
    ION_SERDE,
    TEXT_IN,
    TEXT_OUT,
)
from datafusion_catalogprovider_glue_spark.sources.ion_binary import (
    encode_ion_binary,
)

_VIEWS = {
    "tables": infoschema.information_schema_tables,
    "columns": infoschema.information_schema_columns,
    "partitions": infoschema.information_schema_partitions,
}


def _write_parquet(spark, loc, rows, ddl="id long"):
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(loc)


def _catalog(spark, tmp_path, prefix):
    """A catalog holding a flat table with a non-ASCII name and a
    partitioned one (scattered partitions, one row each)."""
    flat, parts = str(tmp_path / "flat"), str(tmp_path / "parts")
    _write_parquet(spark, flat, [(1,), (2,)])
    for i in range(2):
        _write_parquet(spark, os.path.join(parts, f"p{i}"), [(i,)])
    client = FakeGlueClient(
        {"dbé": {
            "tåble_日本": parquet_table("dbé", "tåble_日本", flat, [("id", "bigint")]),
            "p": parquet_table("dbé", "p", parts, [("id", "bigint")],
                               partition_keys=[("k", "string")]),
        }},
        partitions={("dbé", "p"): [
            {"Values": [f"v{i}"],
             "StorageDescriptor": {"Location": os.path.join(parts, f"p{i}")}}
            for i in range(2)
        ]},
    )
    catalog = GlueCatalog(spark, client, view_prefix=prefix)
    catalog.register_tables("dbé")
    return catalog


def _list_rows(catalog, view):
    """The rows the views held when they were built with
    ``createDataFrame(list_of_rows)``."""
    entries = catalog.entries()
    if view == "tables":
        return [(CATALOG_NAME, e.database, e.table, "BASE TABLE") for e in entries] + [
            (CATALOG_NAME, "information_schema", "tables", "VIEW"),
            (CATALOG_NAME, "information_schema", "columns", "VIEW"),
        ]
    if view == "columns":
        return [
            (CATALOG_NAME, e.database, e.table, f.name, i,
             "YES" if f.nullable else "NO", f.dataType.simpleString())
            for e in entries for i, f in enumerate(e.schema.fields)
        ]
    return [
        (CATALOG_NAME, e.database, e.table,
         "/".join(f"{k}={v}" for (k, _), v in zip(e.partition_keys, p["values"])),
         p["location"])
        for e in entries for p in e.partitions
    ]


def _jobs_of(spark, group, action):
    """The Spark jobs ``action`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("registered", [True, False], ids=["registry", "empty"])
@pytest.mark.parametrize("view", sorted(_VIEWS))
def test_info_view_matches_the_list_build_and_runs_no_job(
    spark, tmp_path, view, registered
):
    """Each view holds the rows and schema (nullability included) of
    the old ``createDataFrame(list)`` build, and building it, filtering
    it and collecting it run no Spark job; the list build runs one,
    which shows the count sees jobs."""
    if registered:
        catalog = _catalog(spark, tmp_path, f"iv{view}__")
    else:
        catalog = GlueCatalog(spark, FakeGlueClient({}))
    schema = getattr(infoschema, f"_{view.upper()}_SCHEMA")
    old = spark.createDataFrame(_list_rows(catalog, view), schema)
    got = {}

    def query(build):
        def run():
            got["df"] = build()
            got["rows"] = got["df"].where(F.col("table_catalog") == CATALOG_NAME).collect()
        return run

    assert _jobs_of(spark, f"info-{view}-{registered}", query(lambda: _VIEWS[view](catalog))) == []
    assert got["df"].schema == old.schema == schema
    assert sorted(got["rows"]) == sorted(old.collect())
    if registered or view == "tables":
        assert got["rows"]
        assert _jobs_of(spark, f"list-{view}-{registered}", query(lambda: old)) != []
    if registered and view != "partitions":
        assert any(r.table_name == "tåble_日本" for r in got["rows"])


def test_info_view_filter_folds_into_the_local_relation(spark, tmp_path):
    """A filter on a view is evaluated while optimising: the physical
    plan is one LocalTableScan, with no Python evaluation."""
    catalog = _catalog(spark, tmp_path, "ivplan__")
    df = infoschema.information_schema_columns(catalog).where(
        F.col("table_name") == "tåble_日本")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan
    assert "Python" not in plan and "ExistingRDD" not in plan
    assert [r.column_name for r in df.collect()] == ["id"]


# -- one reader per format per catalog -----------------------------------------


def _delta_table(spark, tmp_path, name, rows):
    """A Delta table written with a plain ``_delta_log`` commit."""
    loc = str(tmp_path / name)
    data = str(tmp_path / f"{name}_stage")
    _write_parquet(spark, data, rows, "id long")
    os.makedirs(os.path.join(loc, "_delta_log"))
    part = next(f for f in sorted(os.listdir(data)) if f.endswith(".parquet"))
    os.replace(os.path.join(data, part), os.path.join(loc, "f.parquet"))
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": name, "schemaString": json.dumps(schema),
                      "partitionColumns": [], "format": {"provider": "parquet"}}},
        {"add": {"path": "f.parquet", "partitionValues": {}, "dataChange": True}},
    ]
    with open(os.path.join(loc, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(map(json.dumps, actions)) + "\n")
    return {"DatabaseName": "fmt", "Name": name,
            "Parameters": {"table_type": "DELTA"}, "PartitionKeys": [],
            "StorageDescriptor": {"Columns": [], "Location": loc}}


def _avro_table(tmp_path):
    loc = tmp_path / "avro_t"
    loc.mkdir()
    schema = T.StructType([T.StructField("id", T.LongType())])
    write_avro_container(str(loc / "part-0.avro"), schema, [(5,), (6,)])
    return {"DatabaseName": "fmt", "Name": "av", "Parameters": {},
            "PartitionKeys": [],
            "StorageDescriptor": {
                "InputFormat": AVRO_IN, "OutputFormat": AVRO_OUT,
                "SerdeInfo": {"SerializationLibrary": AVRO_SERDE},
                "Columns": [{"Name": "id", "Type": "bigint"}],
                "Location": str(loc)}}


@pytest.fixture
def fresh_source_cache(spark, monkeypatch):
    """An empty per-session JVM source cache for the test, restored
    after it, so the test's lookups (monkeypatched or counted) apply."""
    monkeypatch.setattr(spark.sparkContext, "_dcg_jvm_sources", {}, raising=False)


@pytest.fixture
def reader_log(monkeypatch, fresh_source_cache):
    """Counts the JVM source lookups per format and records the format
    of every ``DataFrameReader.load``."""
    log = {"lookups": [], "loads": []}
    lookup = catalog_module._jvm_has_source
    fmt_of = {}
    original_format, original_load = DataFrameReader.format, DataFrameReader.load

    def counted_lookup(spark, fmt):
        log["lookups"].append(fmt)
        return lookup(spark, fmt)

    def format(self, source):
        fmt_of[id(self)] = source
        return original_format(self, source)

    def load(self, *args, **kwargs):
        log["loads"].append(fmt_of.get(id(self)))
        return original_load(self, *args, **kwargs)

    monkeypatch.setattr(catalog_module, "_jvm_has_source", counted_lookup)
    monkeypatch.setattr(DataFrameReader, "format", format)
    monkeypatch.setattr(DataFrameReader, "load", load)
    return log


def test_absent_sources_are_looked_up_once_and_never_loaded(
    spark, tmp_path, reader_log
):
    """Without delta and spark-avro jars, registering N Delta tables
    and an Avro table loads neither format through the JVM reader, and
    each format is looked up once per session, not once per catalog."""
    if catalog_module._jvm_has_source(spark, "delta") or catalog_module._jvm_has_source(
        spark, "avro"
    ):
        pytest.skip("the session has a delta or spark-avro JVM source")
    reader_log["lookups"].clear()
    tables = {f"d{i}": _delta_table(spark, tmp_path, f"d{i}", [(i,)]) for i in range(3)}
    tables["av"] = _avro_table(tmp_path)
    client = FakeGlueClient({"fmt": tables})
    for prefix in ("rc1__", "rc2__"):
        catalog = GlueCatalog(spark, client, view_prefix=prefix)
        results = catalog.register_tables("fmt")
        assert not [r for r in results if isinstance(r, Exception)]
        for i in range(3):
            assert spark.table(catalog.view_name("fmt", f"d{i}")).collect() == [(i,)]
        assert sorted(spark.table(catalog.view_name("fmt", "av")).collect()) == [(5,), (6,)]
    assert sorted(reader_log["lookups"]) == ["avro", "delta"]
    assert not {"delta", "avro"} & set(reader_log["loads"])


def test_corrupt_delta_log_raises_delta_error(spark, tmp_path):
    """The built-in reader's failure on a corrupt log is a DeltaError."""
    table = _delta_table(spark, tmp_path, "bad", [(1,)])
    log = os.path.join(table["StorageDescriptor"]["Location"], "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("{not json\n")
    catalog = GlueCatalog(spark, FakeGlueClient({"fmt": {"bad": table}}))
    with pytest.raises(DeltaError):
        catalog.register_table("fmt", "bad")


def test_a_failing_chosen_reader_raises_without_switching(
    spark, tmp_path, monkeypatch, fresh_source_cache
):
    """When the JVM source is the chosen reader, its failure raises
    (DeltaError, SparkError); the built-in readers are never tried."""
    from datafusion_catalogprovider_glue_spark.sources import avro_fallback, delta

    def never(*args, **kwargs):
        raise AssertionError("switched readers")

    monkeypatch.setattr(catalog_module, "_jvm_has_source", lambda spark, fmt: True)
    monkeypatch.setattr(delta, "read_delta", never)
    monkeypatch.setattr(avro_fallback, "read_avro_fallback", never)
    client = FakeGlueClient({"fmt": {
        "d": _delta_table(spark, tmp_path, "d", [(1,)]), "av": _avro_table(tmp_path)}})
    catalog = GlueCatalog(spark, client)
    with pytest.raises(DeltaError):
        catalog.register_table("fmt", "d")
    with pytest.raises(SparkError):
        catalog.register_table("fmt", "av")


# -- staleness -------------------------------------------------------------------


def test_invalidate_refetches_a_changed_table(spark, tmp_path):
    """The registry serves the metadata it fetched until ``invalidate``;
    after it, the next query makes one GetTable and reads the table's
    new location and columns."""
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    _write_parquet(spark, old, [(1,)])
    _write_parquet(spark, new, [(2, "b")], "id long, v string")
    client = FakeGlueClient({"db": {"t": parquet_table("db", "t", old, [("id", "bigint")])}})
    catalog = GlueCatalog(spark, client, view_prefix="inv__")
    query = "SELECT * FROM glue.db.t"
    assert catalog.sql(query).collect() == [(1,)]
    changed = parquet_table("db", "t", new, [("id", "bigint"), ("v", "string")])
    client.update_table(DatabaseName="db", TableInput=changed)
    assert catalog.sql(query).collect() == [(1,)]
    assert catalog.df("db", "t").columns == ["id"]
    assert client.calls["GetTable"] == 1

    catalog.invalidate("db", "t")
    assert catalog.table("db", "t") is None and catalog.database_names() == []
    assert not spark.catalog.tableExists("inv__db__t")
    assert catalog.sql(query).collect() == [(2, "b")]
    assert catalog.df("db", "t").columns == ["id", "v"]
    assert client.calls["GetTable"] == 2


def test_invalidate_leaves_views_it_does_not_own(spark, tmp_path):
    """Invalidating a table this catalog never registered drops nothing,
    not even a same-named view another catalog registered."""
    loc = str(tmp_path / "t")
    _write_parquet(spark, loc, [(1,)])
    client = FakeGlueClient({"db": {"t": parquet_table("db", "t", loc, [("id", "bigint")])}})
    owner = GlueCatalog(spark, client, view_prefix="own__")
    owner.register_table("db", "t")
    GlueCatalog(spark, client, view_prefix="own__").invalidate("db", "t")
    assert spark.table("own__db__t").collect() == [(1,)]
    assert owner.table("db", "t") is not None


# -- partitioned Avro without spark-avro -------------------------------------------


def _partitioned_avro_table(tmp_path):
    """An Avro table with key ``k int`` and its files under ``k=1/``
    and ``k=2/``, plus its Glue partition list."""
    root = tmp_path / "avro_p"
    schema = T.StructType([T.StructField("x", T.LongType())])
    for k, rows in (("1", [(1,)]), ("2", [(2,), (3,)])):
        (root / f"k={k}").mkdir(parents=True)
        write_avro_container(str(root / f"k={k}" / "part-0.avro"), schema, rows)
    table = {**_avro_table(tmp_path), "Name": "avp",
             "PartitionKeys": [{"Name": "k", "Type": "int"}]}
    table["StorageDescriptor"] = {
        **table["StorageDescriptor"],
        "Columns": [{"Name": "x", "Type": "bigint"}], "Location": str(root)}
    partitions = [{"Values": [k], "StorageDescriptor": {
        "Location": str(root / f"k={k}")}} for k in "12"]
    return table, partitions


def _skip_with_jvm_avro(spark):
    if catalog_module._jvm_has_source(spark, "avro"):
        pytest.skip("the session has a spark-avro JVM source")


def test_listed_avro_partitions_read_without_spark_avro(spark, tmp_path):
    """Without spark-avro a listed Avro table reads each partition with
    the built-in reader and attaches the Glue values as key literals; a
    listed partition whose location is gone fails the registration."""
    _skip_with_jvm_avro(spark)
    table, partitions = _partitioned_avro_table(tmp_path)
    client = FakeGlueClient({"fmt": {"avp": table}},
                            partitions={("fmt", "avp"): partitions})
    df = GlueCatalog(spark, client, view_prefix="avl__").df("fmt", "avp")
    assert [(f.name, f.dataType, f.nullable) for f in df.schema.fields] == [
        ("x", T.LongType(), True), ("k", T.IntegerType(), True)]
    assert sorted(df.collect()) == [(1, 1), (2, 2), (3, 2)]
    gone = [*partitions, {"Values": ["3"], "StorageDescriptor": {
        "Location": str(tmp_path / "avro_p" / "k=3")}}]
    client = FakeGlueClient({"fmt": {"avp": table}}, partitions={("fmt", "avp"): gone})
    with pytest.raises(SparkError, match="k=3"):
        GlueCatalog(spark, client, view_prefix="avg__").register_table("fmt", "avp")


def test_unlisted_avro_partitions_refuse_without_spark_avro(spark, tmp_path):
    """Without spark-avro nothing can discover an unlisted Avro table's
    partition directories: registering it raises SparkError instead of
    registering an empty table without its key."""
    _skip_with_jvm_avro(spark)
    table, _ = _partitioned_avro_table(tmp_path)
    catalog = GlueCatalog(spark, FakeGlueClient({"fmt": {"avp": table}}))
    with pytest.raises(SparkError, match="file index"):
        catalog.register_table("fmt", "avp")
    assert catalog.table("fmt", "avp") is None


def _partitioned_ion_table(root):
    """A binary-Ion table declaring ``a bigint`` with key ``k int``, two
    rows under each of ``root/k=1/`` and ``root/k=2/``, and its Glue
    partition list."""
    for k in "12":
        os.makedirs(os.path.join(root, f"k={k}"))
        with open(os.path.join(root, f"k={k}", "part-0.10n"), "wb") as fh:
            fh.write(encode_ion_binary(
                [{"a": 10 * int(k)}, {"a": 10 * int(k) + 1}], ["a"]))
    table = {"DatabaseName": "fmt", "Name": "ionp", "Parameters": {},
             "PartitionKeys": [{"Name": "k", "Type": "int"}],
             "StorageDescriptor": {
                 "InputFormat": TEXT_IN, "OutputFormat": TEXT_OUT,
                 "SerdeInfo": {"SerializationLibrary": ION_SERDE},
                 "Columns": [{"Name": "a", "Type": "bigint"}],
                 "Location": root}}
    partitions = [{"Values": [k], "StorageDescriptor": {
        "Location": os.path.join(root, f"k={k}")}} for k in "12"]
    return table, partitions


def test_partitioned_binary_ion_reads_through_the_loader(spark, tmp_path):
    """A partitioned binary-Ion table is probed at its first data file,
    which lies in a partition directory, so it reads with the binary
    decoder: from a Hive-layout Glue list and from a scattered list, one
    location per partition plus its key literal.  Without a list, no
    file index can find its partition directories, so it refuses."""
    import shutil

    root = str(tmp_path / "ion_p")
    table, hive = _partitioned_ion_table(root)
    scattered = []
    for p, other in zip(hive, ("x", "y")):
        loc = str(tmp_path / other)
        shutil.copytree(p["StorageDescriptor"]["Location"], loc)
        scattered.append({**p, "StorageDescriptor": {"Location": loc}})
    for name, partitions in (("hive", hive), ("scattered", scattered)):
        client = FakeGlueClient({"fmt": {"ionp": table}},
                                partitions={("fmt", "ionp"): partitions})
        catalog = GlueCatalog(spark, client, view_prefix=f"ion{name}__")
        entry = catalog.register_table("fmt", "ionp")
        df = spark.table(entry.view)
        assert entry.format == "ion-binary", name
        assert df.schema.simpleString() == "struct<a:bigint,k:int>", name
        assert set(df.collect()) == {(10, 1), (11, 1), (20, 2), (21, 2)}, name
    catalog = GlueCatalog(spark, FakeGlueClient({"fmt": {"ionp": table}}))
    with pytest.raises(SparkError, match="file index"):
        catalog.register_table("fmt", "ionp")
    assert catalog.table("fmt", "ionp") is None


def test_gone_binary_ion_partition_fails_its_registration(spark, tmp_path):
    """A listed binary-Ion partition whose location is gone fails its
    table's registration with SparkError, which register_tables
    collects, instead of registering a table whose first query fails."""
    root = str(tmp_path / "ion_p")
    table, partitions = _partitioned_ion_table(root)
    gone = [*partitions, {"Values": ["3"], "StorageDescriptor": {
        "Location": os.path.join(root, "k=3")}}]
    catalog = GlueCatalog(spark, FakeGlueClient(
        {"fmt": {"ionp": table}}, partitions={("fmt", "ionp"): gone}))
    [result] = catalog.register_tables("fmt")
    assert isinstance(result, SparkError)
    assert "ion-binary" in str(result) and "k=3" in str(result)
    assert catalog.table("fmt", "ionp") is None
