"""Round-10 writer-surface edge pins (Spark-backed).

Refusal contracts and conservative-keep semantics the gate keys don't
isolate: widening validation, post-index Hudi commits, statistics-less
NDV profiles.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datafusion_catalogprovider_glue_spark.errors import DeltaError

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from datafusion_catalogprovider_glue_spark.tables import load_table

    return load_table(spark, SF, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def test_widen_refuses_narrowing_unknown_and_partition(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        append_delta,
        widen_delta_column,
    )

    table = str(tmp_path / "w")
    append_delta(
        _docs(spark).withColumn(
            "n_small", F.col("n_chars").cast("int")
        ),
        table,
        partition_by="lang",
    )
    with pytest.raises(DeltaError, match="already"):
        widen_delta_column(spark, table, "n_chars", "long")  # no-op hop
    with pytest.raises(DeltaError, match="unsupported type change"):
        widen_delta_column(spark, table, "n_chars", "integer")  # narrowing
    with pytest.raises(DeltaError, match="no column"):
        widen_delta_column(spark, table, "nope", "long")
    with pytest.raises(DeltaError, match="partition column"):
        widen_delta_column(spark, table, "lang", "long")
    # a legal widening then an ILLEGAL second hop refuses
    v = widen_delta_column(spark, table, "n_small", "long")
    assert v >= 1
    with pytest.raises(DeltaError, match="unsupported type change"):
        widen_delta_column(spark, table, "n_small", "integer")


def test_widen_already_at_type_refuses(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        append_delta,
        widen_delta_column,
    )

    table = str(tmp_path / "same")
    append_delta(_docs(spark), table)
    with pytest.raises(DeltaError):
        widen_delta_column(spark, table, "n_chars", "long")  # already long


def test_hudi_stats_filter_keeps_post_index_slices(spark, tmp_path):
    """A commit landing AFTER the column-stats index has no recorded
    bounds — its slices must be KEPT by any stats_filter (conservative
    pruning is result-preserving by construction)."""
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        index_hudi_column_stats,
        read_hudi,
    )
    from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (
        append_hudi,
    )

    table = str(tmp_path / "hs")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "k long, v long"
    )
    append_hudi(base.filter(F.col("k") < 50), table, n_groups=1)
    index_hudi_column_stats(table)
    # newer commit: k in [1000, 1100) — outside every indexed range
    append_hudi(
        spark.createDataFrame(
            [(1000 + i, 7) for i in range(10)], "k long, v long"
        ),
        table,
        n_groups=1,
    )
    got = read_hudi(spark, table, stats_filter={"k": 1005})
    rows = {(r.k, r.v) for r in got.select("k", "v").collect()}
    assert (1005, 7) in rows
    # and a probe provably outside EVERY range (indexed or not) still
    # returns result-preserving output (the indexed slice prunes, the
    # unindexed one is scanned)
    none = read_hudi(spark, table, stats_filter={"k": 40})
    assert {r.k for r in none.select("k").collect()} >= {40}


def test_hudi_stats_index_is_incremental(spark, tmp_path, monkeypatch):
    """Re-indexing after a new commit must open footers ONLY for the
    new slices (previous entries reused by base-file path)."""
    import datafusion_catalogprovider_glue_spark.sources.hudi as hudi_mod
    from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (
        append_hudi,
    )

    table = str(tmp_path / "hi")
    append_hudi(
        spark.createDataFrame([(1, 1)], "k long, v long"), table, n_groups=1
    )
    hudi_mod.index_hudi_column_stats(table)
    append_hudi(
        spark.createDataFrame([(2, 2)], "k long, v long"), table, n_groups=1
    )
    calls = []
    real = hudi_mod.footer_stats

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(hudi_mod, "footer_stats", counting)
    hudi_mod.index_hudi_column_stats(table)
    assert len(calls) == 1, calls  # only the new slice's footer opened


def test_ndv_profile_empty_without_statistics(spark, tmp_path):
    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        iceberg_ndv_profile,
    )
    from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
        append_iceberg,
    )

    table = str(tmp_path / "nostats")
    append_iceberg(
        spark.createDataFrame([(1, "a")], "k long, s string"), table
    )
    assert iceberg_ndv_profile(table) == {}
    assert os.path.isdir(os.path.join(table, "metadata"))
