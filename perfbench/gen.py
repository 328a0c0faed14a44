"""Seeded input generators for the three workloads.

Everything here is plain Python plus pyarrow: it builds Glue-shaped
catalog dicts, data files, query parameters and commit batches from a
seed, and never imports Spark or the engine package.  The same seed
always yields the same inputs (``tests/test_gen.py`` pins this).
"""

from __future__ import annotations

import datetime as dt
import decimal
import itertools
import json
import os
import random
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa
import pyarrow.orc as pa_orc
import pyarrow.parquet as pq

# Hive SerDe class names, exactly as Glue records them.
PARQUET_SERDE = (
    "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
    "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
    "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe",
)
ORC_SERDE = (
    "org.apache.hadoop.hive.ql.io.orc.OrcInputFormat",
    "org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat",
    "org.apache.hadoop.hive.ql.io.orc.OrcSerde",
)
TEXT_IN = "org.apache.hadoop.mapred.TextInputFormat"
TEXT_OUT = "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat"
CSV_SERDE = "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe"
JSON_SERDES = (
    "org.apache.hive.hcatalog.data.JsonSerDe",
    "org.openx.data.jsonserde.JsonSerDe",
)

# ---------------------------------------------------------------------------
# Glue column types
#
# A type is a tuple: ("p", name) primitive, ("dec", p, s), ("char", kw, n),
# ("arr", t), ("map", k, v) or ("st", ((name, t), ...)).
# ---------------------------------------------------------------------------

_PRIMS_ALL = (
    "tinyint", "smallint", "int", "bigint", "boolean", "float", "double",
    "string", "date", "timestamp", "binary",
)
# Types each file format can carry faithfully: CSV and JSON have no
# binary encoding, and ORC timestamps carry an instant/local ambiguity
# that Glue's tz-naive ``timestamp`` does not describe.
PRIMS_BY_FORMAT = {
    "parquet": _PRIMS_ALL,
    "orc": tuple(p for p in _PRIMS_ALL if p != "timestamp"),
    "json": tuple(p for p in _PRIMS_ALL if p != "binary"),
    "csv": tuple(p for p in _PRIMS_ALL if p != "binary"),
}
NESTED_FORMATS = ("parquet", "orc", "json")

_SPARK_PRIM = {"timestamp": "timestamp_ntz"}
_ARROW_PRIM = {
    "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
    "bigint": pa.int64(), "boolean": pa.bool_(), "float": pa.float32(),
    "double": pa.float64(), "string": pa.string(), "date": pa.date32(),
    "timestamp": pa.timestamp("us"), "binary": pa.binary(),
}
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_EPOCH_DAY = dt.date(2020, 1, 1)
_EPOCH_TS = dt.datetime(2020, 1, 1)


def glue_type(t) -> str:
    """The Glue type string of a generated type."""
    kind = t[0]
    if kind == "p":
        return t[1]
    if kind == "dec":
        return f"decimal({t[1]},{t[2]})"
    if kind == "char":
        return f"{t[1]}({t[2]})"
    if kind == "arr":
        return f"array<{glue_type(t[1])}>"
    if kind == "map":
        return f"map<{glue_type(t[1])},{glue_type(t[2])}>"
    return "struct<" + ",".join(f"{n}:{glue_type(s)}" for n, s in t[1]) + ">"


def spark_type(t) -> str:
    """Spark's ``simpleString`` for the type the catalog must produce."""
    kind = t[0]
    if kind == "p":
        return _SPARK_PRIM.get(t[1], t[1])
    if kind == "dec":
        return f"decimal({t[1]},{t[2]})"
    if kind == "char":
        return "string"
    if kind == "arr":
        return f"array<{spark_type(t[1])}>"
    if kind == "map":
        return f"map<{spark_type(t[1])},{spark_type(t[2])}>"
    return "struct<" + ",".join(f"{n}:{spark_type(s)}" for n, s in t[1]) + ">"


def arrow_type(t) -> pa.DataType:
    kind = t[0]
    if kind == "p":
        return _ARROW_PRIM[t[1]]
    if kind == "dec":
        return pa.decimal128(t[1], t[2])
    if kind == "char":
        return pa.string()
    if kind == "arr":
        return pa.list_(arrow_type(t[1]))
    if kind == "map":
        return pa.map_(arrow_type(t[1]), arrow_type(t[2]))
    return pa.struct([(n, arrow_type(s)) for n, s in t[1]])


def _word(rng: random.Random, lo: int = 3, hi: int = 10) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(rng.randint(lo, hi)))


def rand_value(t, rng: random.Random):
    """A non-null value of type ``t``."""
    kind = t[0]
    if kind == "p":
        name = t[1]
        if name == "tinyint":
            return rng.randint(-100, 100)
        if name == "smallint":
            return rng.randint(-30000, 30000)
        if name == "int":
            return rng.randint(-(2**31) + 1, 2**31 - 1)
        if name == "bigint":
            return rng.randint(-(2**53), 2**53)
        if name == "boolean":
            return rng.random() < 0.5
        if name in ("float", "double"):
            return round(rng.uniform(-1000.0, 1000.0), 2)
        if name == "string":
            return _word(rng)
        if name == "date":
            return _EPOCH_DAY + dt.timedelta(days=rng.randint(0, 3000))
        if name == "timestamp":
            return _EPOCH_TS + dt.timedelta(seconds=rng.randint(0, 10**8))
        return bytes(rng.randrange(256) for _ in range(rng.randint(1, 8)))
    if kind == "dec":
        unscaled = rng.randint(-(10 ** t[1]) + 1, 10 ** t[1] - 1)
        return decimal.Decimal(unscaled).scaleb(-t[2])
    if kind == "char":
        return _word(rng, 1, t[2])
    if kind == "arr":
        return [rand_value(t[1], rng) for _ in range(rng.randint(1, 3))]
    if kind == "map":
        keys = {rand_value(t[1], rng) for _ in range(rng.randint(1, 3))}
        return [(k, rand_value(t[2], rng)) for k in sorted(keys)]
    return {n: rand_value(s, rng) for n, s in t[1]}


def rand_type(rng: random.Random, fmt: str, depth: int = 0):
    """A Glue column type that ``fmt`` files can carry."""
    if fmt in NESTED_FORMATS and depth < 2 and rng.random() < 0.3:
        shape = rng.choice(("arr", "map", "st"))
        if shape == "arr":
            return ("arr", rand_type(rng, fmt, depth + 1))
        if shape == "map":
            # JSON objects only have string keys
            key = ("p", "string") if fmt == "json" else (
                ("p", rng.choice(("string", "int")))
            )
            return ("map", key, rand_type(rng, fmt, depth + 1))
        n = rng.randint(1, 3)
        return ("st", tuple(
            (f"f{i}", rand_type(rng, fmt, depth + 1)) for i in range(n)
        ))
    r = rng.random()
    if r < 0.12:
        p = rng.randint(5, 18)
        return ("dec", p, rng.randint(0, min(p, 6)))
    if r < 0.2:
        return ("char", rng.choice(("char", "varchar")), rng.randint(4, 16))
    return ("p", rng.choice(PRIMS_BY_FORMAT[fmt]))


# ---------------------------------------------------------------------------
# Data files
# ---------------------------------------------------------------------------


def _json_value(v):
    if isinstance(v, decimal.Decimal):
        return str(v)  # Spark parses JSON strings into decimal columns
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    if isinstance(v, list):
        if v and isinstance(v[0], tuple):  # map entries
            return {str(k): _json_value(x) for k, x in v}
        return [_json_value(x) for x in v]
    return v


def _csv_value(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def write_rows(path: str, fmt: str, columns, rows, serde: dict) -> None:
    """Write ``rows`` (lists in column order) as one ``fmt`` file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if fmt in ("parquet", "orc"):
        schema = pa.schema([(n, arrow_type(t)) for n, t in columns])
        cols = list(zip(*rows)) if rows else [[] for _ in columns]
        table = pa.table(
            [pa.array(list(c), f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        if fmt == "parquet":
            pq.write_table(table, path)
        else:
            pa_orc.write_table(table, path)
        return
    with open(path, "w") as fh:
        if fmt == "json":
            for row in rows:
                obj = {n: _json_value(v) for (n, _), v in zip(columns, row)}
                fh.write(json.dumps(obj) + "\n")
        else:
            delim = serde["delim"]
            if serde["header"]:
                fh.write(delim.join(n for n, _ in columns) + "\n")
            for row in rows:
                fh.write(delim.join(_csv_value(v) for v in row) + "\n")


# ---------------------------------------------------------------------------
# catalog_cold: a large Glue catalog touched with a Zipf skew
# ---------------------------------------------------------------------------

COLD_DATABASES = 40
COLD_TABLES_PER_DB = 50
COLD_PAGE_SIZE = 100
COLD_ZIPF_S = 1.1
# partitions per partitioned table, cycling with the Zipf rank (see
# README.md for why not 100-1000)
COLD_PARTITIONS = (4, 8, 12)
COLD_ROWS = (8, 20)
COLD_MAX_OPS = 400
# The traffic shape -- which Zipf rank each op names, the op kinds, the
# table kind and partition count at each rank -- is the same for every
# seed; the seed decides which table sits at each rank and everything
# inside it (names, columns, types, rows, SerDe options).  Seeds then
# vary the inputs without varying how much work a run does.
SHAPE_SEED = 20_000_101
_KIND_PATTERN = (
    "parquet", "csv", "delta", "orc", "parquet", "iceberg", "parquet", "json",
    "csv", "orc", "parquet", "json", "orc", "csv", "parquet", "json",
    "json", "parquet", "csv", "orc",
)
# ranks r with r % 10 == 4 are partitioned (10% of tables); both
# pattern slots 4 and 14 are parquet
_PARTITIONED_SLOT = 4
# op kinds in every block of 20 ops: S = SELECT * LIMIT 10, J = 2-table
# join, K = 3-table join, I = information_schema.columns filter
_COLD_OP_PATTERN = "SSJSSSISSKSSJSSSISJS"
LAKE_POOL = 2  # physical Delta and Iceberg tables per kind
LAKE_COLUMNS = (("id", ("p", "bigint")), ("name", ("p", "string")),
                ("amount", ("p", "double")))
LAKE_SCHEMA = pa.schema([(n, arrow_type(t)) for n, t in LAKE_COLUMNS])


@dataclass
class ColdTable:
    db: str
    name: str
    kind: str  # parquet | csv | json | orc | delta | iceberg
    columns: list  # [(name, type)], ``id bigint`` first
    partition_keys: list = field(default_factory=list)  # [(name, glue type)]
    partitions: list = field(default_factory=list)  # [[value, ...]]
    rows: int = 0
    serde: dict = field(default_factory=dict)
    seed: int = 0  # row-content seed

    def expected_schema(self) -> list[tuple[str, str]]:
        """(name, Spark simpleString) the registered table must have."""
        out = [(n, spark_type(t)) for n, t in self.columns]
        return out + [
            (k, _SPARK_PRIM.get(t, t)) for k, t in self.partition_keys
        ]


@dataclass
class Op:
    kind: str
    tables: list = field(default_factory=list)  # [(db, table)] referenced
    sql: Optional[str] = None
    db: Optional[str] = None
    expect_schema: Optional[list] = None
    expect: object = None


@dataclass
class ColdCatalog:
    tables: dict  # (db, name) -> ColdTable
    ops: list
    warmup_ops: list
    lake_rows: dict  # ("delta"|"iceberg", i) -> rows


def _cold_table(rng, db, name, kind, n_parts, lake_id) -> ColdTable:
    if kind in ("delta", "iceberg"):
        return ColdTable(db, name, kind, list(LAKE_COLUMNS),
                         serde={"lake": lake_id})
    ncols = rng.randint(3, 10)
    columns = [("id", ("p", "bigint"))] + [
        (f"c{i}", rand_type(rng, kind)) for i in range(1, ncols + 1)
    ]
    serde = {}
    if kind == "csv":
        serde = {"delim": rng.choice((",", "|", "\t")),
                 "header": rng.random() < 0.5}
    elif kind == "json":
        serde = {"serde": rng.choice(JSON_SERDES)}
    table = ColdTable(db, name, kind, columns, rows=rng.randint(*COLD_ROWS),
                      serde=serde, seed=rng.randrange(2**31))
    if n_parts:
        n = n_parts
        if rng.random() < 0.5:
            table.partition_keys = [("dt", "string")]
            start = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randint(0, 300))
            table.partitions = [
                [(start + dt.timedelta(days=i)).isoformat()] for i in range(n)
            ]
        else:
            table.partition_keys = [("year", "int"), ("month", "int")]
            y0 = rng.randint(2015, 2020)
            table.partitions = [
                [str(y0 + i // 12), str(i % 12 + 1)] for i in range(n)
            ]
    return table


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))


def _join_sql(tables: list[ColdTable], rng) -> tuple[str, list]:
    aliases = "abc"
    select = [f"a.id AS id"]
    schema = [("id", "bigint")]
    for alias, t in zip(aliases, tables):
        name, typ = rng.choice(t.columns[1:])
        select.append(f"{alias}.{name} AS {alias}_{name}")
        schema.append((f"{alias}_{name}", spark_type(typ)))
    sql = f"SELECT {', '.join(select)} FROM glue.{tables[0].db}.{tables[0].name} a"
    for alias, t in zip(aliases[1:], tables[1:]):
        sql += f" JOIN glue.{t.db}.{t.name} {alias} ON {alias}.id = a.id"
    return sql + " LIMIT 10", schema


def _cold_ops(rng, tables, order, n_ops) -> list[Op]:
    """``n_ops`` ops over ``order`` (tables by Zipf rank).  Ranks come
    from the fixed shape seed, the rest from ``rng``.  Each
    information_schema op lists exactly the tables earlier ops named."""
    shape = random.Random(SHAPE_SEED)
    cum = _zipf_cum(len(order), COLD_ZIPF_S)
    ops = []
    registered: set = set()
    ranks: set = set()

    def pick(k):
        chosen = []
        while len(chosen) < k:
            rank = shape.choices(range(len(order)), cum_weights=cum)[0]
            if rank not in chosen:
                chosen.append(rank)
        ranks.update(chosen)
        return [order[r] for r in chosen]

    for i in range(n_ops):
        kind = _COLD_OP_PATTERN[i % len(_COLD_OP_PATTERN)]
        if kind == "I" and registered:
            db = order[shape.choice(sorted(ranks))][0]
            expect = sorted(
                (t.name, col, pos, typ)
                for key in registered if key[0] == db
                for t in [tables[key]]
                for pos, (col, typ) in enumerate(t.expected_schema())
            )
            ops.append(Op("info", db=db, expect=expect))
            continue
        if kind in ("J", "K"):
            keys = pick(2 if kind == "J" else 3)
            sql, schema = _join_sql([tables[k] for k in keys], rng)
            ops.append(Op("join", keys, sql, expect_schema=schema))
        else:
            keys = pick(1)
            t = tables[keys[0]]
            ops.append(Op("sample", keys,
                          f"SELECT * FROM glue.{t.db}.{t.name} LIMIT 10",
                          expect_schema=t.expected_schema()))
        registered.update(keys)
    return ops


def cold_catalog(seed: int, n_ops: int = COLD_MAX_OPS) -> ColdCatalog:
    """The catalog_cold inputs: ~2000 Glue tables, the op sequence and
    a small warm-up database exercising every table kind once."""
    rng = random.Random(seed)
    slots = [(f"db{d:02d}", f"t{t:02d}_{_word(rng, 3, 6)}")
             for d in range(COLD_DATABASES) for t in range(COLD_TABLES_PER_DB)]
    order = slots[:]
    rng.shuffle(order)  # position in ``order`` is the Zipf rank
    tables = {}
    for rank, (db, name) in enumerate(order):
        kind = _KIND_PATTERN[rank % len(_KIND_PATTERN)]
        n_parts = (COLD_PARTITIONS[rank // 10 % len(COLD_PARTITIONS)]
                   if rank % 10 == _PARTITIONED_SLOT else 0)
        tables[(db, name)] = _cold_table(
            rng, db, name, kind, n_parts, rank % LAKE_POOL
        )
    warm = {}
    for i, kind in enumerate(("parquet", "csv", "json", "orc", "delta",
                              "iceberg", "parquet")):
        key = ("warmup", f"w{i}_{kind}")
        warm[key] = _cold_table(rng, key[0], key[1], kind,
                                COLD_PARTITIONS[0] if i == 6 else 0,
                                i % LAKE_POOL)
    tables.update(warm)
    warm_order = list(warm)
    warmup_ops = [
        Op("sample", [k], f"SELECT * FROM glue.{k[0]}.{k[1]} LIMIT 10",
           expect_schema=warm[k].expected_schema())
        for k in warm_order
    ]
    sql, schema = _join_sql([warm[k] for k in warm_order[:3]], rng)
    warmup_ops.append(Op("join", warm_order[:3], sql, expect_schema=schema))
    warmup_ops.append(Op("info", db="warmup", expect=sorted(
        (warm[k].name, col, pos, typ) for k in warm_order
        for pos, (col, typ) in enumerate(warm[k].expected_schema())
    )))
    ops = _cold_ops(rng, tables, order, n_ops)
    lake_rows = {
        (kind, i): [
            (j + 1, _word(rng), round(rng.uniform(0, 1000), 2))
            for j in range(rng.randint(*COLD_ROWS))
        ]
        for kind in ("delta", "iceberg") for i in range(LAKE_POOL)
    }
    return ColdCatalog(tables, ops, warmup_ops, lake_rows)


def cold_table_rows(t: ColdTable, part_index: int = 0) -> list[list]:
    rng = random.Random(t.seed * 1000 + part_index)
    return [
        [i + 1] + [rand_value(typ, rng) for _, typ in t.columns[1:]]
        for i in range(t.rows)
    ]


def lake_location(root: str, kind: str, i: int) -> str:
    return os.path.join(root, "_lake", f"{kind}{i}")


def cold_glue(cat: ColdCatalog, root: str) -> tuple[dict, dict]:
    """Glue ``{db: {name: Table}}`` and ``{(db, name): [Partition]}``."""
    databases: dict = {}
    partitions: dict = {}
    for (db, name), t in cat.tables.items():
        loc = os.path.join(root, db, name)
        params = {}
        if t.kind in ("delta", "iceberg"):
            loc = lake_location(root, t.kind, t.serde["lake"])
            params = {"table_type": t.kind.upper()}
            sd = {"Location": loc}
        else:
            if t.kind == "parquet":
                triple = PARQUET_SERDE
                serde_info = {"SerializationLibrary": triple[2]}
            elif t.kind == "orc":
                triple = ORC_SERDE
                serde_info = {"SerializationLibrary": triple[2]}
            elif t.kind == "json":
                triple = (TEXT_IN, TEXT_OUT, t.serde["serde"])
                serde_info = {"SerializationLibrary": triple[2]}
            else:
                triple = (TEXT_IN, TEXT_OUT, CSV_SERDE)
                serde_info = {"SerializationLibrary": CSV_SERDE,
                              "Parameters": {"field.delim": t.serde["delim"]}}
            sd = {"InputFormat": triple[0], "OutputFormat": triple[1],
                  "SerdeInfo": serde_info, "Location": loc}
            if t.kind == "csv" and t.serde["header"]:
                sd["Parameters"] = {"skip.header.line.count": "1"}
        sd["Columns"] = [{"Name": n, "Type": glue_type(typ)}
                         for n, typ in t.columns]
        databases.setdefault(db, {})[name] = {
            "DatabaseName": db, "Name": name, "Parameters": params,
            "PartitionKeys": [{"Name": k, "Type": ty}
                              for k, ty in t.partition_keys],
            "StorageDescriptor": sd,
        }
        if t.partitions:
            partitions[(db, name)] = [
                {"Values": list(values), "StorageDescriptor": {
                    **{k: v for k, v in sd.items() if k != "Location"},
                    "Location": _partition_location(loc, t, values),
                }}
                for values in t.partitions
            ]
    return databases, partitions


def _partition_location(loc: str, t: ColdTable, values) -> str:
    return os.path.join(
        loc, *(f"{k}={v}" for (k, _), v in zip(t.partition_keys, values))
    )


def materialize_cold(cat: ColdCatalog, root: str) -> int:
    """Write the data files of every listing table an op (or warm-up op)
    references; returns the number of files written.  Tables no op can
    reach keep their catalog entry and no files, as nothing reads them."""
    keys = {k for op in cat.warmup_ops + cat.ops for k in op.tables}
    written = 0
    for key in sorted(keys):
        t = cat.tables[key]
        if t.kind in ("delta", "iceberg"):
            continue
        loc = os.path.join(root, *key)
        targets = (
            [(i, _partition_location(loc, t, v))
             for i, v in enumerate(t.partitions)]
            if t.partitions else [(0, loc)]
        )
        for i, target in targets:
            write_rows(os.path.join(target, f"part-0.{t.kind}"),
                       t.kind, t.columns, cold_table_rows(t, i), t.serde)
            written += 1
    return written


# ---------------------------------------------------------------------------
# sql_analytics: TPC-H-shaped tables and parameterised templates
# ---------------------------------------------------------------------------

# Column types of the engine's testdata fixture; the workload checks at
# set-up that the fixture still declares exactly these.
TPCH_COLUMNS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "bigint"), ("c_name", "string"),
                 ("c_nationkey", "int"), ("c_acctbal", "double"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "bigint"), ("s_name", "string"),
                 ("s_nationkey", "int"), ("s_acctbal", "double")],
    "part": [("p_partkey", "bigint"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"), ("p_size", "int"),
             ("p_retailprice", "double")],
    "orders": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
               ("o_orderstatus", "string"), ("o_totalprice", "double"),
               ("o_orderdate", "timestamp"), ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                 ("l_suppkey", "bigint"), ("l_linenumber", "int"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp")],
    "events": [("event_id", "bigint"), ("ts", "timestamp"),
               ("user_id", "bigint"), ("event_type", "string"),
               ("value", "double"), ("props", "string")],
    "documents": [("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
                  ("source", "string"), ("n_chars", "bigint")],
    "embeddings": [("vec_id", "bigint"), ("embedding", "array<float>"),
                   ("label", "int")],
}
_TPCH_ARROW = {"int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(),
               "string": pa.string(), "timestamp": pa.timestamp("us"),
               "array<float>": pa.list_(pa.float32())}
TPCH_SF = 0.05  # 300k lineitem rows; see README.md for why not sf 0.1
TPCH_START = dt.date(1995, 1, 1)
TPCH_DAYS = 730  # order dates span 1995-1996: 24 monthly partitions
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_TYPES = ("PROMO BRUSHED TIN", "STANDARD POLISHED STEEL", "ECONOMY ANODIZED",
          "PROMO PLATED COPPER", "LARGE BURNISHED NICKEL", "SMALL PLATED BRASS")
# tables whose monthly Hive-partitioned copy is registered with explicit
# Glue partitions: (source table, copy name, date column, month column)
TPCH_PARTITIONED = (("lineitem", "lineitem_m", "l_shipdate", "l_month"),
                    ("orders", "orders_m", "o_orderdate", "o_month"))


def tpch_tables(seed: int, sf: float = TPCH_SF) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale ``sf`` (sf 1 = 1.5M orders)."""
    import numpy as np

    rs = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    us_day = 86_400_000_000
    t0 = int((dt.datetime.combine(TPCH_START, dt.time()) -
              dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000

    def choice(values, n):
        return np.array(values, dtype=object)[rs.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(rs.uniform(lo, hi, n), 2)

    lines_per = rs.integers(1, 8, n_ord)
    n_line = int(lines_per.sum())
    okeys = np.arange(1, n_ord + 1)
    odate = t0 + rs.integers(0, TPCH_DAYS, n_ord) * us_day
    l_okey = np.repeat(okeys, lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    qty = rs.integers(1, 51, n_line).astype(float)
    data = {
        "region": [np.arange(5), list(REGIONS)],
        "nation": [np.arange(25), [f"NATION_{i:02d}" for i in range(25)],
                   np.arange(25) % 5],
        "customer": [np.arange(1, n_cust + 1),
                     [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
                     rs.integers(0, 25, n_cust), money(-999.99, 9999.99, n_cust),
                     choice(SEGMENTS, n_cust)],
        "supplier": [np.arange(1, n_supp + 1),
                     [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
                     rs.integers(0, 25, n_supp), money(-999.99, 9999.99, n_supp)],
        "part": [np.arange(1, n_part + 1),
                 [f"part {i}" for i in range(1, n_part + 1)],
                 [f"Brand#{i % 5 + 1}{i % 4 + 1}" for i in range(n_part)],
                 choice(_TYPES, n_part), rs.integers(1, 51, n_part),
                 money(900, 2000, n_part)],
        "orders": [okeys, rs.integers(1, n_cust + 1, n_ord),
                   choice(("F", "O", "P"), n_ord), money(1000, 400_000, n_ord),
                   odate, choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                  "5-LOW"), n_ord)],
        "lineitem": [l_okey, rs.integers(1, n_part + 1, n_line),
                     rs.integers(1, n_supp + 1, n_line),
                     np.arange(n_line) - starts + 1, qty,
                     np.round(qty * rs.uniform(900, 2000, n_line), 2),
                     np.round(rs.integers(0, 11, n_line) / 100.0, 2),
                     np.round(rs.integers(0, 9, n_line) / 100.0, 2),
                     choice(("R", "A", "N"), n_line), choice(("O", "F"), n_line),
                     np.repeat(odate, lines_per)
                     + rs.integers(1, 122, n_line) * us_day],
        "events": [np.arange(1, 501), t0 + rs.integers(0, 10**6, 500) * 10**6,
                   rs.integers(1, 50, 500), choice(("view", "click", "buy"), 500),
                   money(0, 100, 500), ["{}"] * 500],
        "documents": [np.arange(1, 101), [f"doc {i}" for i in range(100)],
                      choice(("en", "de"), 100), choice(("web", "mail"), 100),
                      rs.integers(10, 1000, 100)],
        "embeddings": [np.arange(1, 101),
                       [list(map(float, rs.uniform(-1, 1, 4))) for _ in range(100)],
                       rs.integers(0, 3, 100)],
    }
    out = {}
    for name, cols in TPCH_COLUMNS.items():
        arrays = []
        for (col, typ), values in zip(cols, data[name]):
            if typ == "timestamp":
                arrays.append(pa.array(np.asarray(values, dtype="int64"),
                                       pa.int64()).cast(pa.timestamp("us")))
            else:
                arrays.append(pa.array(values, _TPCH_ARROW[typ]))
        out[name] = pa.table(arrays, names=[c for c, _ in cols])
    return out


def write_tpch(tables: dict[str, pa.Table], root: str) -> dict[str, list]:
    """Write ``<root>/<name>.parquet`` per table plus the monthly
    partitioned copies; returns ``{copy: [(month, location), ...]}``."""
    import numpy as np

    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    parts = {}
    for src, copy, date_col, month_col in TPCH_PARTITIONED:
        table = tables[src]
        months = table[date_col].to_numpy().astype("datetime64[M]")
        order = np.argsort(months, kind="stable")
        table, months = table.take(order), months[order]
        bounds = np.flatnonzero(months[1:] != months[:-1]) + 1
        parts[copy] = []
        for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(months)]):
            month = str(months[lo])
            loc = os.path.join(root, copy, f"{month_col}={month}")
            os.makedirs(loc)
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(loc, "part-0.parquet"))
            parts[copy].append((month, loc))
    return parts


def _ts(day: int) -> str:
    return f"{TPCH_START + dt.timedelta(days=day)} 00:00:00"


def _month(i: int) -> str:
    y, m = divmod(i, 12)
    return f"{TPCH_START.year + y}-{m + 1:02d}"


# name -> (is_join, tables, SQL text with {params}, param maker)
TEMPLATES = {
    "scan_agg": (False, ("lineitem",), (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_base, "
        "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, "
        "avg(l_discount) AS avg_disc, count(*) AS n "
        "FROM glue.tpch.lineitem WHERE l_shipdate <= TIMESTAMP '{d}' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2"),
        lambda r: {"d": _ts(r.randint(300, 800))}),
    "range_pruned": (False, ("lineitem_m",), (
        "SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n "
        "FROM glue.tpch.lineitem_m WHERE l_month BETWEEN '{m1}' AND '{m2}' "
        "AND l_discount BETWEEN {d1} AND {d2} AND l_quantity < {q}"),
        lambda r: (lambda m: {"m1": _month(m), "m2": _month(m + 2),
                              "d1": r.randint(2, 5) / 100,
                              "d2": r.randint(6, 9) / 100,
                              "q": r.randint(20, 30)})(r.randint(0, 21))),
    "topk": (False, ("orders",), (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM glue.tpch.orders "
        "WHERE o_orderdate BETWEEN TIMESTAMP '{d1}' AND TIMESTAMP '{d2}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
        lambda r: (lambda d: {"d1": _ts(d), "d2": _ts(d + 60)})(
            r.randint(0, 660))),
    "window_rank": (False, ("customer",), (
        "SELECT * FROM (SELECT c_nationkey, c_custkey, c_acctbal, rank() OVER "
        "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk "
        "FROM glue.tpch.customer WHERE c_mktsegment = '{seg}') t "
        "WHERE rk <= 3 ORDER BY c_nationkey, rk"),
        lambda r: {"seg": r.choice(SEGMENTS)}),
    "join2_month": (True, ("orders_m", "customer"), (
        "SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS total "
        "FROM glue.tpch.orders_m o JOIN glue.tpch.customer c "
        "ON o.o_custkey = c.c_custkey WHERE o.o_month = '{m}' "
        "GROUP BY c.c_mktsegment ORDER BY 1"),
        lambda r: {"m": _month(r.randint(0, 23))}),
    "join2_part": (True, ("lineitem", "part"), (
        "SELECT sum(CASE WHEN p.p_type LIKE 'PROMO%' THEN "
        "l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) AS promo, "
        "sum(l.l_extendedprice * (1 - l.l_discount)) AS total "
        "FROM glue.tpch.lineitem l JOIN glue.tpch.part p "
        "ON l.l_partkey = p.p_partkey WHERE l.l_shipdate >= TIMESTAMP '{d1}' "
        "AND l.l_shipdate < TIMESTAMP '{d2}'"),
        lambda r: (lambda d: {"d1": _ts(d), "d2": _ts(d + 30)})(
            r.randint(0, 760))),
    "join3_top": (True, ("customer", "orders", "lineitem"), (
        "SELECT l.l_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) "
        "AS revenue, o.o_orderdate FROM glue.tpch.customer c "
        "JOIN glue.tpch.orders o ON c.c_custkey = o.o_custkey "
        "JOIN glue.tpch.lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < TIMESTAMP '{d}' "
        "AND l.l_shipdate > TIMESTAMP '{d}' GROUP BY l.l_orderkey, "
        "o.o_orderdate ORDER BY revenue DESC, l.l_orderkey LIMIT 10"),
        lambda r: {"seg": r.choice(SEGMENTS), "d": _ts(r.randint(60, 700))}),
    "join5": (True, ("region", "nation", "customer", "orders", "lineitem"), (
        "SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount)) "
        "AS revenue FROM glue.tpch.region r "
        "JOIN glue.tpch.nation n ON n.n_regionkey = r.r_regionkey "
        "JOIN glue.tpch.customer c ON c.c_nationkey = n.n_nationkey "
        "JOIN glue.tpch.orders o ON o.o_custkey = c.c_custkey "
        "JOIN glue.tpch.lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE r.r_name = '{region}' AND o.o_orderdate >= TIMESTAMP '{d1}' "
        "AND o.o_orderdate < TIMESTAMP '{d2}' GROUP BY n.n_name "
        "ORDER BY revenue DESC"),
        lambda r: (lambda d: {"region": r.choice(REGIONS), "d1": _ts(d),
                              "d2": _ts(d + 120)})(r.randint(0, 600))),
}
SQL_MAX_OPS = 1000
# One block of ops: every template once, the 2-way joins and the 5-way
# join twice.  With these counts each reported median falls inside one
# template's cluster of latencies, not in the gap between two clusters
# (overall p50: join2_month; p90: join5; joins' p50: join2_month).
SQL_BLOCK = tuple(sorted(TEMPLATES)) + ("join2_month", "join2_part", "join5")


def _template_op(name: str, rng: random.Random) -> Op:
    is_join, tables, text, params = TEMPLATES[name]
    return Op("join" if is_join else "single", [("tpch", t) for t in tables],
              text.format(**params(rng)), expect=name)


def sql_ops(seed: int, n_ops: int = SQL_MAX_OPS) -> tuple[list[Op], list[Op]]:
    """(warm-up ops, ops): every template once, then SQL_BLOCK blocks.
    The order within blocks is the same for every seed (as in
    catalog_cold); the seed draws the parameters."""
    rng = random.Random(seed)
    shape = random.Random(SHAPE_SEED)
    warmup = [_template_op(n, rng) for n in sorted(TEMPLATES)]
    ops: list[Op] = []
    while len(ops) < n_ops:
        block = list(SQL_BLOCK)
        shape.shuffle(block)
        ops.extend(_template_op(n, rng) for n in block)
    return warmup, ops[:n_ops]


# ---------------------------------------------------------------------------
# table_commits: appends, keyed merges and reads on a Delta and an
# Iceberg table
# ---------------------------------------------------------------------------

LAKE_TABLES = ("delta", "iceberg")
COMMIT_SCHEMA = pa.schema([("k", pa.int64()), ("g", pa.int32()),
                           ("v", pa.int64())])
LAKE_DB = "lake"
LAKE_NAMES = {"delta": "delta_t", "iceberg": "iceberg_t"}
WARM_NAMES = {"delta": "delta_w", "iceberg": "iceberg_w"}
COMMIT_INITIAL_ROWS = 200
COMMIT_APPEND_ROWS = 20
COMMIT_MERGE_ROWS = (7, 3)  # (updated keys, inserted keys)
COMMIT_GROUPS = 8
COMMIT_MAX_OPS = 600
# per block of 10 ops: 4 reads, 4 appends, 2 merges, alternating tables
_COMMIT_PATTERN = (
    ("read", "delta"), ("append", "delta"), ("read", "iceberg"),
    ("append", "iceberg"), ("merge", "delta"), ("read", "delta"),
    ("merge", "iceberg"), ("read", "iceberg"), ("append", "delta"),
    ("append", "iceberg"),
)


@dataclass
class CommitInputs:
    initial: dict  # table -> [(k, g, v)]
    ops: list  # Op(kind, tables=[table], expect=rows or (n, s) for reads)
    # the first commits again, on separate warm-up tables (db="warm")
    warmup: list


def commit_inputs(seed: int, n_ops: int = COMMIT_MAX_OPS) -> CommitInputs:
    """Initial rows, the op sequence and, for each read, the expected
    (row count, sum of v) from a Python model of all earlier commits."""
    rng = random.Random(seed)
    state = {}
    initial = {}
    next_key = {}
    for table in LAKE_TABLES:
        rows = [(k, rng.randrange(COMMIT_GROUPS), rng.randint(0, 1000))
                for k in range(1, COMMIT_INITIAL_ROWS + 1)]
        initial[table] = rows
        state[table] = {k: (g, v) for k, g, v in rows}
        next_key[table] = COMMIT_INITIAL_ROWS + 1

    def fresh(table, n):
        rows = [(next_key[table] + i, rng.randrange(COMMIT_GROUPS),
                 rng.randint(0, 1000)) for i in range(n)]
        next_key[table] += n
        return rows

    ops = []
    for i in range(n_ops):
        kind, table = _COMMIT_PATTERN[i % len(_COMMIT_PATTERN)]
        model = state[table]
        if kind == "read":
            g = rng.randrange(COMMIT_GROUPS)
            vs = [v for gg, v in model.values() if gg == g]
            ops.append(Op("read", [table], read_sql(LAKE_NAMES[table], g),
                          expect=(len(vs), sum(vs))))
            continue
        if kind == "append":
            rows = fresh(table, COMMIT_APPEND_ROWS)
        else:
            upd = rng.sample(sorted(model), COMMIT_MERGE_ROWS[0])
            rows = [(k, rng.randrange(COMMIT_GROUPS), rng.randint(0, 1000))
                    for k in upd] + fresh(table, COMMIT_MERGE_ROWS[1])
        model.update({k: (g, v) for k, g, v in rows})
        ops.append(Op(kind, [table], expect=rows))
    warmup = [Op(op.kind, op.tables, expect=op.expect, db="warm")
              for op in ops[:10] if op.kind != "read"]
    warmup += [Op("read", [t], read_sql(WARM_NAMES[t], 0), db="warm")
               for t in LAKE_TABLES]
    return CommitInputs(initial, ops, warmup)


def read_sql(table: str, group: int) -> str:
    return (f"SELECT count(*) AS n, coalesce(sum(v), 0) AS s "
            f"FROM glue.{LAKE_DB}.{table} WHERE g = {group}")
