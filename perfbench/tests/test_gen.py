"""The generators are pure functions of the seed."""

from __future__ import annotations

import os

from perfbench import gen


def _tree(root):
    out = {}
    for base, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(base, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_cold_catalog_is_a_function_of_the_seed(tmp_path):
    a, b = gen.cold_catalog(7, n_ops=60), gen.cold_catalog(7, n_ops=60)
    assert a == b
    assert gen.cold_glue(a, "/data") == gen.cold_glue(b, "/data")
    other = gen.cold_catalog(8, n_ops=60)
    assert other.ops != a.ops
    # the traffic shape does not depend on the seed
    assert [op.kind for op in other.ops] == [op.kind for op in a.ops]
    assert ([(other.tables[k].kind, len(other.tables[k].partitions))
             for op in other.ops for k in op.tables]
            == [(a.tables[k].kind, len(a.tables[k].partitions))
                for op in a.ops for k in op.tables])


def test_cold_catalog_files_repeat_byte_for_byte(tmp_path):
    cat = gen.cold_catalog(3, n_ops=20)
    n1 = gen.materialize_cold(cat, str(tmp_path / "a"))
    n2 = gen.materialize_cold(gen.cold_catalog(3, n_ops=20), str(tmp_path / "b"))
    assert n1 == n2 > 0
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")


def test_cold_catalog_shape():
    cat = gen.cold_catalog(11, n_ops=100)
    assert len(cat.tables) == (gen.COLD_DATABASES * gen.COLD_TABLES_PER_DB
                               + len({k for k in cat.tables if k[0] == "warmup"}))
    kinds = [t.kind for k, t in cat.tables.items() if k[0] != "warmup"]
    assert {"parquet", "csv", "json", "orc", "delta", "iceberg"} <= set(kinds)
    parted = [t for k, t in cat.tables.items() if k[0] != "warmup" and t.partitions]
    assert len(parted) == len(kinds) // 10
    assert {len(t.partitions) for t in parted} == set(gen.COLD_PARTITIONS)
    # every information_schema op lists only tables earlier ops named
    named = set()
    for op in cat.ops:
        if op.kind == "info":
            listed = {(op.db, row[0]) for row in op.expect}
            assert listed and listed <= named
        named.update(op.tables)


def test_type_strings():
    t = ("st", (("a", ("arr", ("dec", 10, 2))),
                ("b", ("map", ("p", "string"), ("p", "timestamp"))),
                ("c", ("char", "varchar", 8))))
    assert gen.glue_type(t) == (
        "struct<a:array<decimal(10,2)>,b:map<string,timestamp>,c:varchar(8)>")
    assert gen.spark_type(t) == (
        "struct<a:array<decimal(10,2)>,b:map<string,timestamp_ntz>,c:string>")


def test_tpch_tables_repeat():
    a, b = gen.tpch_tables(5, sf=0.002), gen.tpch_tables(5, sf=0.002)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["orders"].equals(gen.tpch_tables(6, sf=0.002)["orders"])
    assert gen.sql_ops(5, n_ops=40) == gen.sql_ops(5, n_ops=40)


def test_sql_ops_run_every_template_per_block():
    n = len(gen.SQL_BLOCK)
    warm, ops = gen.sql_ops(9, n_ops=3 * n)
    assert sorted(op.expect for op in warm) == sorted(gen.TEMPLATES)
    assert set(gen.SQL_BLOCK) == set(gen.TEMPLATES)
    for i in range(0, len(ops), n):
        assert (sorted(op.expect for op in ops[i:i + n])
                == sorted(gen.SQL_BLOCK))
    # same order for every seed, different parameters
    other = gen.sql_ops(10, n_ops=3 * n)[1]
    assert [op.expect for op in other] == [op.expect for op in ops]
    assert [op.sql for op in other] != [op.sql for op in ops]


def test_commit_reads_expect_the_replayed_model():
    ci = gen.commit_inputs(4, n_ops=80)
    assert ci == gen.commit_inputs(4, n_ops=80)
    state = {t: {k: (g, v) for k, g, v in rows} for t, rows in ci.initial.items()}
    for op in ci.ops:
        table = op.tables[0]
        if op.kind == "read":
            group = int(op.sql.rsplit("=", 1)[1])
            vs = [v for g, v in state[table].values() if g == group]
            assert op.expect == (len(vs), sum(vs))
        else:
            state[table].update({k: (g, v) for k, g, v in op.expect})
