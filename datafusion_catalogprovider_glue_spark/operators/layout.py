"""Storage-layout operators: the pay-the-shuffle-once join.

The reference cannot express physical co-location — DataFusion 37's
``ListingTable`` carries no bucketing metadata (SURVEY.md §4, the
`file_sort_order: vec![]` / `target_partitions: 1` rows of
glue.rs:449-450).  Spark can: ``bucketBy`` at write time hash-
partitions AND sorts the files by the join key, and every subsequent
equi-join on that key runs with ZERO Exchange — the shuffle is paid
once at ingest and amortized over every query.  At 100 TB this is the
single biggest join optimization available: a fact-fact join that
would move both tables across the network instead streams co-located
sorted buckets.

``join_bucketed`` proves the whole round trip inside the correctness
gate: bucketed external tables are materialized once per scale
factor, re-registered from their files in any fresh session (the
bucket spec re-attaches via ``CLUSTERED BY`` DDL — files written by
Spark's bucketed writer encode the bucket id in the file name), then
joined and aggregated; the oracle is the PLAIN join on the original
parquet, so a hash match proves the bucketed layout is
result-preserving.  The zero-Exchange plan shape is pinned in
tests/test_plans.py.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_catalogprovider_glue_spark.functions import dsum
from datafusion_catalogprovider_glue_spark.operators.registry import query
from datafusion_catalogprovider_glue_spark.session import apply_engine_conf
from datafusion_catalogprovider_glue_spark.tables import load_table

N_BUCKETS = 8


def _bucket_fixture(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    columns: list[str],
) -> DataFrame:
    """Materialize ``table`` bucketed+sorted on ``key`` once per sf and
    return it as a bucketed catalog table (re-registering from the
    existing files when this is a fresh session)."""
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    name = f"b_{table}_{h}"
    out = os.path.join("/tmp", f"glue_spark_bucketed_{h}", table)
    if not spark.catalog.tableExists(name):
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            (
                load_table(spark, sf_dir, table)
                .select(*columns)
                .write.bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .option("path", out)
                .mode("overwrite")
                .saveAsTable(name)
            )
        else:
            # files survive across sessions; the bucket spec lives in the
            # catalog, so re-attach it with DDL (bucketed file names are
            # how Spark maps files to buckets at read time)
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in spark.read.parquet(out).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {N_BUCKETS} BUCKETS LOCATION '{out}'"
            )
    return spark.table(name)


@query(
    "join_bucketed",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join over co-located bucketed tables: lineitem
    and orders both bucketed+sorted on the order key join with zero
    Exchange (the ``merge`` hint keeps tiny test tables off the
    broadcast path so the plan exercised here is the 100 TB one).
    The only shuffle left in the query is the final rollup's.  Oracle
    is the plain join on the original parquet — the hash match proves
    the bucketed round trip drops/duplicates nothing."""
    apply_engine_conf(spark)
    li = _bucket_fixture(
        spark, sf_dir, "lineitem", "l_orderkey", ["l_orderkey", "l_quantity"]
    )
    o = _bucket_fixture(
        spark, sf_dir, "orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]
    )
    return (
        li.hint("merge")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity"), 2, 8).alias("sum_qty"),
        )
    )


TARGET_FILE_BYTES = 1 << 20  # 1 MiB at test scale; 128-512 MiB in production


@query(
    "pipeline_compact_files",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def pipeline_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance op (Delta
    OPTIMIZE / Iceberg rewrite_data_files) every 100 TB table needs:
    streaming ingest and fine-grained partitioning leave thousands of
    KB-sized files, and scan cost becomes per-file overhead (open,
    footer read, task schedule) instead of bytes.

    The fixture scatters documents across 32 small files once per sf;
    compaction sizes the target file count from actual on-disk bytes
    (total / TARGET_FILE_BYTES) and rewrites with ``coalesce`` — which
    bin-packs existing partitions WITHOUT a shuffle, the right tool
    when output count only shrinks (``repartition`` would pay a full
    exchange to balance perfectly; compaction doesn't need perfect).
    The returned aggregate reads the COMPACTED copy and hash-matches
    the original table, proving the rewrite is value-lossless; the
    file-count collapse itself is pinned in tests/test_extensions.py.
    """
    apply_engine_conf(spark)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    base = os.path.join("/tmp", f"glue_spark_compact_{h}")
    small = os.path.join(base, "small")
    compacted = os.path.join(base, "compacted")
    if not os.path.exists(os.path.join(small, "_SUCCESS")):
        load_table(spark, sf_dir, "documents").repartition(32).write.mode(
            "overwrite"
        ).parquet(small)
    if not os.path.exists(os.path.join(compacted, "_SUCCESS")):
        total = sum(
            os.path.getsize(os.path.join(small, f))
            for f in os.listdir(small)
            if f.endswith(".parquet")
        )
        n_target = max(1, -(-total // TARGET_FILE_BYTES))
        spark.read.parquet(small).coalesce(n_target).write.mode(
            "overwrite"
        ).parquet(compacted)
    return (
        spark.read.parquet(compacted)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


Z_BITS = 16  # testdata keys fit 16 bits; production uses rank-based scaling
Z_FILES = 16


def _z_value(a, b):
    """Morton/Z-order interleave of two Z_BITS-wide ints, all JVM-side
    bitwise ops (codegen): z = Σᵢ ((a>>i)&1)<<(2i+1) | ((b>>i)&1)<<(2i)."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        abit = F.shiftleft(
            F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        bbit = F.shiftleft(
            F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        z = z.bitwiseOR(abit).bitwiseOR(bbit)
    return z


@query(
    "scan_zordered",
    oracle="""
    SELECT l_partkey, COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 200 AND l_suppkey BETWEEN 10 AND 50
    GROUP BY l_partkey
    """,
)
def scan_zordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout: lineitem rewritten once per sf
    sorted by the bit-interleave of (l_partkey, l_suppkey), so BOTH
    columns get narrow per-file min/max ranges and a 2-D range
    predicate prunes files via ordinary parquet footer stats — the
    multi-column data-skipping trick a 1-D sort can't give (sorting by
    partkey alone leaves suppkey ranges full-width in every file).
    This is Delta OPTIMIZE ZORDER re-expressed with vanilla Spark:
    interleave in codegen (32 shift/mask ops, no UDF), then
    ``repartitionByRange(z) + sortWithinPartitions(z)`` — one range
    shuffle at write time, amortized over every later scan.

    The aggregate reads the z-ordered copy under the 2-D predicate and
    hash-matches the ORIGINAL table, proving the rewrite reorders
    without loss; the per-file range narrowing (the skipping evidence)
    is measured from real footers in tests/test_extensions.py.  At
    100 TB the same write pattern works per partition-date; rank-based
    bit scaling replaces the raw 16-bit assumption when keys exceed
    2^Z_BITS."""
    apply_engine_conf(spark)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = os.path.join("/tmp", f"glue_spark_zorder_{h}", "lineitem_z")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        li = load_table(spark, sf_dir, "lineitem")
        # min-max scale BOTH keys onto the full Z_BITS width first —
        # unequal domains (suppkey is 100 values, partkey 2000+) would
        # otherwise leave one key in the low-order bits and the curve
        # degenerates to a 1-D sort on the other (this range binning
        # is what OPTIMIZE ZORDER does too); 4 boundary numbers, one
        # driver-side agg at write time
        bounds = li.agg(
            F.min("l_partkey"), F.max("l_partkey"),
            F.min("l_suppkey"), F.max("l_suppkey"),
        ).collect()[0]
        pk_lo, pk_hi, sk_lo, sk_hi = (int(v) for v in bounds)
        top = (1 << Z_BITS) - 1

        def scaled(col, lo, hi):
            if hi == lo:
                return F.lit(0)
            return F.floor(
                (col.cast("double") - lo) * top / (hi - lo)
            ).cast("long")

        z = _z_value(
            scaled(F.col("l_partkey"), pk_lo, pk_hi),
            scaled(F.col("l_suppkey"), sk_lo, sk_hi),
        )
        (
            li.withColumn("z", z)
            .repartitionByRange(Z_FILES, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite")
            .parquet(out)
        )
    return (
        spark.read.parquet(out)
        .filter(
            F.col("l_partkey").between(100, 200)
            & F.col("l_suppkey").between(10, 50)
        )
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity"), 2, 8).alias("sum_qty"),
        )
    )


@query(
    "pipeline_write_partitioned",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def pipeline_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side Hive partitioning with DYNAMIC PARTITION OVERWRITE —
    the sink layout every incremental corpus pipeline uses (rewrite
    only the partitions present in this batch, leave the rest).  The
    op writes documents partitioned by lang twice — the second write
    overwrites dynamically — then proves three things in one
    hash-checked result: the partition columns round-trip (Spark drops
    them from data files and re-derives them from directory names),
    the re-read agrees with the source per partition, and the
    double-write did NOT duplicate rows (dynamic overwrite replaced,
    not appended).

    100 TB notes: partitionBy(lang) writes each partition from the
    tasks that hold its rows (no pre-shuffle needed beyond the
    write's own), and readers get directory-level pruning on the
    partition column for free — the layout IS the index."""
    apply_engine_conf(spark)
    out = os.path.join(
        "/tmp",
        f"glue_spark_partw_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    d = load_table(spark, sf_dir, "documents")
    writer_conf = ("spark.sql.sources.partitionOverwriteMode", "dynamic")
    old = spark.conf.get(writer_conf[0], "static")
    spark.conf.set(*writer_conf)
    try:
        for _ in range(2):  # second pass must REPLACE, not append
            (
                d.select("doc_id", "text", "n_chars", "lang")
                .write.mode("overwrite")
                .partitionBy("lang")
                .parquet(out)
            )
    finally:
        spark.conf.set(writer_conf[0], old)
    back = spark.read.parquet(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "scan_parquet_bloom",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
    """,
)
def scan_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup layout: lineitem rewritten once per sf range-sorted
    on ``l_orderkey`` with parquet BLOOM FILTERS on the key
    (``parquet.bloom.filter.enabled#l_orderkey`` — written by Spark's
    parquet-mr sink, consumed by its vectorized reader during
    row-group filtering).  The sort gives footer min/max pruning for
    RANGE predicates; the bloom filter covers what min/max cannot — a
    point EQUALITY probe for a key ABSENT from a file whose range
    happens to span it skips the row group without decoding a page.
    That pairing (sort + bloom) is the standard needle-in-haystack
    layout for id-lookup tables at 100 TB, where an unindexed point
    query would otherwise touch every row group whose range covers
    the key.  Bloom bytes actually landing in the files is pinned by
    size-delta in tests/test_extensions.py; this key pins the layout
    rewrite is LOSSLESS via the oracle hash on a max-key probe
    (computed from the data, not hardcoded, so it holds at every
    sf)."""
    apply_engine_conf(spark)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = os.path.join("/tmp", f"glue_spark_bloom_{h}", "lineitem_bloom")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        li = load_table(spark, sf_dir, "lineitem")
        (
            li.repartitionByRange(8, "l_orderkey")
            .sortWithinPartitions("l_orderkey")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#l_orderkey", "true")
            .option("parquet.bloom.filter.expected.ndv#l_orderkey", "2000000")
            # parquet-mr SKIPS the bloom when a row group stays fully
            # dictionary-encoded (the dictionary already gives exact
            # filtering); a production id column overflows dictionaries
            # anyway, so turn the dictionary off for the key column —
            # the sorted int64 falls back to delta encoding and the
            # bloom bytes actually land at every scale
            .option("parquet.enable.dictionary#l_orderkey", "false")
            .parquet(out)
        )
    probe = spark.read.parquet(out).agg(F.max("l_orderkey")).collect()[0][0]
    return (
        spark.read.parquet(out)
        .filter(F.col("l_orderkey") == probe)
        .select(
            "l_orderkey", "l_partkey", "l_suppkey",
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
    )


@query(
    "sink_delta_optimize_zorder",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE l_partkey = (SELECT max(l_partkey) FROM lineitem)
    """,
)
def sink_delta_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (delta_writer.optimize_delta_zorder): a
    compaction rewrite along the Morton curve of (l_partkey,
    l_suppkey), giving BOTH columns file-level min/max locality at
    once — the multi-column data-skipping layout a plain sort cannot
    provide.  Asserted in-key: before the rewrite (files laid out by
    orderkey) a partkey point probe prunes nothing; after it, stats
    skipping prunes the SAME probe to a fraction of the files on
    EITHER z-order column; the commit is ``dataChange: false`` so the
    CDF over the optimize version is EMPTY (incremental consumers
    never re-see rows).  The returned probe rows hash-match the
    source, proving the rewrite is logically identity."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        read_delta,
        read_delta_cdf,
    )
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        append_delta,
        optimize_delta_zorder,
    )

    apply_engine_conf(spark)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    table = os.path.join("/tmp", f"glue_spark_dzorder_{h}", "lineitem_delta")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )
    vz = None
    if not os.path.exists(os.path.join(table, "_delta_log")):
        # scattered baseline: laid out by orderkey, so partkey/suppkey
        # ranges overlap in every file and nothing prunes
        append_delta(
            li.repartitionByRange(8, "l_orderkey")
            .sortWithinPartitions("l_orderkey"),
            table, n_files=8,
        )
        vz = optimize_delta_zorder(
            spark, table, ["l_partkey", "l_suppkey"], n_files=16, bits=16
        )
    full = read_delta(spark, table)
    n_files = len(full.inputFiles())
    p_probe = full.agg(F.max("l_partkey")).collect()[0][0]
    s_probe = full.agg(F.max("l_suppkey")).collect()[0][0]
    n_p = len(
        read_delta(spark, table, stats_filter={"l_partkey": p_probe})
        .inputFiles()
    )
    n_s = len(
        read_delta(spark, table, stats_filter={"l_suppkey": s_probe})
        .inputFiles()
    )
    if not (n_p < n_files and n_s < n_files and max(n_p, n_s) <= n_files // 2):
        raise ValueError(
            f"z-order skipping failed: partkey {n_p}, suppkey {n_s} "
            f"of {n_files} files"
        )
    if vz is not None:
        if read_delta_cdf(
            spark, table, from_version=vz, to_version=vz
        ).count() != 0:
            raise ValueError("OPTIMIZE ZORDER surfaced rows in the CDF")
    return read_delta(
        spark, table, stats_filter={"l_partkey": p_probe}
    ).filter(F.col("l_partkey") == p_probe)


@query(
    "scan_delta_stats_pruned",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
    """,
)
def scan_delta_stats_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA DATA SKIPPING (delta_writer._file_stats over the shared
    footer fold parquet_stats.footer_stats + read_delta(stats_filter=...)
    through parquet_stats.may_match): lineitem lands in a Delta table
    range-sorted on ``l_orderkey`` whose adds carry per-file
    minValues/maxValues in the LOG; a point lookup then prunes to the
    ONE file whose recorded range covers the key — asserted in-key via
    inputFiles — without opening any parquet footer.  This is the
    log-level half of the skipping story (scan_zordered proved the
    footer-level half): at 100 TB the planner reads KBs of commit JSON
    and schedules a single-file scan.  The probe key is computed from
    the data (max l_orderkey), so the hash match holds at every sf."""
    from datafusion_catalogprovider_glue_spark.sources.delta import (
        read_delta,
    )
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        append_delta,
    )

    apply_engine_conf(spark)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    table = os.path.join("/tmp", f"glue_spark_dstats_{h}", "lineitem_delta")
    if not os.path.exists(os.path.join(table, "_delta_log")):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey",
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
        append_delta(
            li.repartitionByRange(8, "l_orderkey")
            .sortWithinPartitions("l_orderkey"),
            table, n_files=8,
        )
    full = read_delta(spark, table)
    n_files = len(full.inputFiles())
    probe = full.agg(F.max("l_orderkey")).collect()[0][0]
    pruned = read_delta(spark, table, stats_filter={"l_orderkey": probe})
    n_pruned = len(pruned.inputFiles())
    if not (n_pruned < n_files and n_pruned <= 2):
        raise ValueError(
            f"stats skipping did not prune: {n_pruned} of {n_files} files"
        )
    return pruned.filter(F.col("l_orderkey") == probe)


@query(
    "scan_iceberg_stats_pruned",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
    """,
)
def scan_iceberg_stats_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICEBERG SCAN PLANNING on column bounds (spec §manifests
    lower_bounds/upper_bounds — iceberg_writer._data_file_entry over
    the shared footer fold parquet_stats.footer_stats +
    read_iceberg(stats_filter=...) through parquet_stats.may_match):
    manifest entries carry per-column value bounds folded from the
    parquet footers at write time, so a point lookup on a range-sorted
    column prunes to ONE file from the manifest alone — asserted
    in-key via inputFiles. Completes the stats-skipping symmetry with
    Delta (scan_delta_stats_pruned): at 100 TB both planners schedule
    single-file scans from KB-sized metadata. Probe key computed from
    the data, so the hash holds at every sf."""
    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        read_iceberg,
    )
    from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
        append_iceberg,
    )

    apply_engine_conf(spark)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    table = os.path.join("/tmp", f"glue_spark_istats_{h}", "lineitem_iceberg")
    if not os.path.exists(os.path.join(table, "metadata")):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey",
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
        append_iceberg(
            li.repartitionByRange(8, "l_orderkey")
            .sortWithinPartitions("l_orderkey"),
            table, n_files=8,
        )
    full = read_iceberg(spark, table)
    n_files = len(full.inputFiles())
    probe = full.agg(F.max("l_orderkey")).collect()[0][0]
    pruned = read_iceberg(spark, table, stats_filter={"l_orderkey": probe})
    n_pruned = len(pruned.inputFiles())
    if not (n_pruned < n_files and n_pruned <= 2):
        raise ValueError(
            f"bounds pruning did not prune: {n_pruned} of {n_files} files"
        )
    return pruned.filter(F.col("l_orderkey") == probe)


@query(
    "scan_hudi_stats_pruned",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
    """,
)
def scan_hudi_stats_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUDI COLUMN-STATS DATA SKIPPING (hudi.index_hudi_column_stats over
    the shared footer fold parquet_stats.footer_stats +
    read_hudi(stats_filter=...) through parquet_stats.may_match — the
    metadata table's ``column_stats`` partition, tech-specs
    §metadata-table; r9 verdict item 5): lineitem lands as 8 file
    slices with DISJOINT l_orderkey ranges (one range-bucketed append
    per slice), the column-stats index folds each slice's footer
    [min,max,nulls] into one KB JSON snapshot, and a point lookup
    prunes to the ONE slice whose recorded range covers the key —
    asserted in-key via inputFiles — without opening any parquet
    footer at plan time. Completes the trio's data-skipping symmetry
    (Delta B25 log stats, Iceberg B26 manifest bounds, Hudi r10
    column_stats). Probe key computed from the data, so the hash holds
    at every sf."""
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        index_hudi_column_stats,
        read_hudi,
    )
    from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (
        append_hudi,
    )

    apply_engine_conf(spark)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    table = os.path.join("/tmp", f"glue_spark_hstats_{h}", "lineitem_hudi")
    if not os.path.isdir(os.path.join(table, ".hoodie")):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey",
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
        lo, hi = li.agg(
            F.min("l_orderkey"), F.max("l_orderkey")
        ).collect()[0]
        step = max(1, (hi - lo + 8) // 8)
        for b in range(8):  # disjoint key ranges → prunable slices
            lo_b, hi_b = lo + b * step, lo + (b + 1) * step
            batch = li.filter(
                (F.col("l_orderkey") >= lo_b)
                & (F.col("l_orderkey") < hi_b)
            )
            append_hudi(batch.coalesce(1), table, n_groups=1)
        index_hudi_column_stats(table)
    full = read_hudi(spark, table)
    n_files = len(full.inputFiles())
    probe = full.agg(F.max("l_orderkey")).collect()[0][0]
    pruned = read_hudi(spark, table, stats_filter={"l_orderkey": probe})
    n_pruned = len(pruned.inputFiles())
    if not (n_pruned < n_files and n_pruned <= 2):
        raise ValueError(
            f"column-stats skipping did not prune: {n_pruned} of "
            f"{n_files} slices"
        )
    return pruned.filter(F.col("l_orderkey") == probe).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
