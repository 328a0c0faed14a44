"""Minimal Avro Object Container File reader (SURVEY.md §2-B3).

The reference supports Avro tables through DataFusion's avro feature
(glue.rs:406-410, Cargo.toml:23).  Spark's own spark-avro module is an
external JVM package absent from this container, and no Python avro
library ships here either — so this module implements the open Avro
1.11 container spec (https://avro.apache.org/docs/1.11.1/specification/)
directly, for the subset Glue tables actually use:

* container framing: ``Obj\\x01`` magic, file-metadata map
  (``avro.schema``, ``avro.codec``), 16-byte sync marker, blocks of
  (count, byte-size, payload, sync);
* codecs: ``null`` and ``deflate`` (raw zlib);
* datum types: record of null / boolean / int / long (zigzag varint) /
  float / double / bytes / string, plus ``["null", T]`` unions (the
  shape Glue's nullable columns produce).

Execution model: the DRIVER only lists files; decoding runs
executor-side via ``mapPartitions`` over the file list, one task per
file group — the same distribution shape as any file scan.  Decoded
rows become a DataFrame under the Glue-derived schema (fields matched
by name, missing fields null).  Complex nested Avro (sub-records,
arrays, maps, enums) raises ``NotImplementedYet`` loudly.
"""

from __future__ import annotations

import datetime
import io
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import NotImplementedYet

_MAGIC = b"Obj\x01"


def _read_long(buf: io.BufferedIOBase) -> int:
    """Zigzag varint (Avro int/long)."""
    shift = 0
    accum = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        accum |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (accum >> 1) ^ -(accum & 1)


def _read_bytes(buf: io.BufferedIOBase) -> bytes:
    n = _read_long(buf)
    return buf.read(n)


def _decode_datum(buf: io.BufferedIOBase, schema) -> object:
    if isinstance(schema, list):  # union: branch index then datum
        branch = schema[_read_long(buf)]
        return _decode_datum(buf, branch)
    if isinstance(schema, dict):
        if schema.get("type") == "record":
            return tuple(
                _decode_datum(buf, f["type"]) for f in schema["fields"]
            )
        lt = schema.get("logicalType")
        if lt == "timestamp-micros":
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(
                microseconds=_read_long(buf)
            )
        if lt == "date":
            return datetime.date(1970, 1, 1) + datetime.timedelta(
                days=_read_long(buf)
            )
        schema = schema.get("type", schema)
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return _read_bytes(buf)
    if schema == "string":
        return _read_bytes(buf).decode("utf-8")
    raise NotImplementedYet(f"avro type not supported by fallback reader: {schema!r}")


def decode_container_file(path: str) -> tuple[dict, list[tuple]]:
    """(writer schema, rows) from one .avro container file."""
    with open(path, "rb") as f:
        if f.read(4) != _MAGIC:
            raise NotImplementedYet(f"{path!r} is not an Avro container file")
        meta: dict[str, bytes] = {}
        # file metadata map: series of blocks, each (count, k/v pairs)
        while True:
            n = _read_long(f)
            if n == 0:
                break
            if n < 0:  # negative count: block byte size follows, once
                n = -n
                _read_long(f)
            for _ in range(n):
                key = _read_bytes(f).decode("utf-8")
                meta[key] = _read_bytes(f)
        sync = f.read(16)
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
        codec = meta.get("avro.codec", b"null").decode("utf-8")
        if codec not in ("null", "deflate"):
            raise NotImplementedYet(f"avro codec {codec!r} not supported")

        rows: list[tuple] = []
        while True:
            try:
                count = _read_long(f)
            except EOFError:
                break
            size = _read_long(f)
            payload = f.read(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, -15)
            block = io.BytesIO(payload)
            for _ in range(count):
                rows.append(_decode_datum(block, schema))
            if f.read(16) != sync:
                raise NotImplementedYet(f"bad sync marker in {path!r}")
        return schema, rows


def read_avro_fallback(
    spark: SparkSession, location: str, schema: T.StructType
) -> DataFrame:
    """Distributed read of a directory of .avro files under the
    Glue-derived ``schema`` (fields matched by writer-field name).  A
    missing ``location`` raises here, not when the read first runs."""
    if not os.path.exists(location):
        raise FileNotFoundError(f"no Avro data at {location!r}")
    if os.path.isdir(location):
        files = sorted(
            os.path.join(location, n)
            for n in os.listdir(location)
            if n.endswith(".avro")
        )
    else:
        files = [location]
    if not files:
        return spark.createDataFrame([], schema)

    target_fields = [f.name for f in schema.fields]

    def decode_files(paths):
        for p in paths:
            writer_schema, rows = decode_container_file(p)
            names = [f["name"] for f in writer_schema["fields"]]
            idx = {n: i for i, n in enumerate(names)}
            for row in rows:
                yield tuple(
                    row[idx[name]] if name in idx else None
                    for name in target_fields
                )

    rdd = spark.sparkContext.parallelize(files, len(files)).mapPartitions(decode_files)
    return spark.createDataFrame(rdd, schema)


_AVRO_TO_SPARK = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def _avro_type_to_spark(avro_type) -> T.DataType:
    if isinstance(avro_type, list):  # nullable union
        non_null = [t for t in avro_type if t != "null"]
        if len(non_null) != 1:
            raise NotImplementedYet(f"unsupported avro union: {avro_type!r}")
        return _avro_type_to_spark(non_null[0])
    if isinstance(avro_type, dict):
        lt = avro_type.get("logicalType")
        if lt == "timestamp-micros":
            return T.TimestampType()
        if lt == "date":
            return T.DateType()
        avro_type = avro_type.get("type", avro_type)
    if isinstance(avro_type, str) and avro_type in _AVRO_TO_SPARK:
        return _AVRO_TO_SPARK[avro_type]
    raise NotImplementedYet(f"avro type not supported by fallback reader: {avro_type!r}")


def schema_from_avro_file(location: str) -> T.StructType:
    """InferSchemaFromData for Avro: the writer schema in the first
    file's header (Avro is self-describing, glue.rs:266's infer path)."""
    if os.path.isdir(location):
        first = next(
            (
                os.path.join(location, n)
                for n in sorted(os.listdir(location))
                if n.endswith(".avro")
            ),
            None,
        )
    else:
        first = location
    if first is None:
        raise NotImplementedYet(f"no .avro files under {location!r} to infer from")
    with open(first, "rb") as f:
        if f.read(4) != _MAGIC:
            raise NotImplementedYet(f"{first!r} is not an Avro container file")
        meta: dict[str, bytes] = {}
        while True:
            n = _read_long(f)
            if n == 0:
                break
            if n < 0:  # negative count: block byte size follows, once
                n = -n
                _read_long(f)
            for _ in range(n):
                key = _read_bytes(f).decode("utf-8")
                meta[key] = _read_bytes(f)
    writer = json.loads(meta["avro.schema"].decode("utf-8"))
    return T.StructType(
        [
            T.StructField(fld["name"], _avro_type_to_spark(fld["type"]), True)
            for fld in writer["fields"]
        ]
    )


# ---------------------------------------------------------------------------
# Writer (the encode mirror of the reader above) — used to materialize
# Avro fixtures for the correctness gate and as a minimal single-file
# sink.  Same subset: records of primitives wrapped in ["null", T]
# unions (the shape Glue's all-nullable columns produce, glue.rs:535).
# ---------------------------------------------------------------------------


def _write_long(out: io.BufferedIOBase, value: int) -> None:
    """Zigzag varint (Avro int/long)."""
    accum = (value << 1) ^ (value >> 63)
    while True:
        byte = accum & 0x7F
        accum >>= 7
        if accum:
            out.write(bytes([byte | 0x80]))
        else:
            out.write(bytes([byte]))
            break


def _write_bytes(out: io.BufferedIOBase, data: bytes) -> None:
    _write_long(out, len(data))
    out.write(data)


_SPARK_TO_AVRO = {
    "long": "long",
    "bigint": "long",
    "integer": "int",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
    # Avro LOGICAL types (spec §logical-types): the annotated
    # primitive carries the encoding; datetimes round-trip as epoch
    # micros / days without tz reinterpretation (naive wall values)
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long", "logicalType": "timestamp-micros"},
    "date": {"type": "int", "logicalType": "date"},
}


def _encode_datum(out: io.BufferedIOBase, avro_type, value) -> None:
    # every field is a ["null", T] union: branch index first
    if value is None:
        _write_long(out, 0)
        return
    _write_long(out, 1)
    if isinstance(avro_type, dict):
        lt = avro_type.get("logicalType")
        if lt == "timestamp-micros":
            d = value - datetime.datetime(1970, 1, 1)
            _write_long(
                out,
                (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds,
            )
            return
        if lt == "date":
            _write_long(out, (value - datetime.date(1970, 1, 1)).days)
            return
        raise NotImplementedYet(f"avro writer: logicalType {lt!r}")
    if avro_type in ("long", "int"):
        _write_long(out, int(value))
    elif avro_type == "double":
        out.write(struct.pack("<d", float(value)))
    elif avro_type == "float":
        out.write(struct.pack("<f", float(value)))
    elif avro_type == "string":
        _write_bytes(out, value.encode("utf-8"))
    elif avro_type == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif avro_type == "bytes":
        _write_bytes(out, bytes(value))
    else:
        raise NotImplementedYet(f"avro writer: unsupported type {avro_type}")


def write_avro_container(
    path: str, schema: T.StructType, rows, block_size: int = 4096
) -> None:
    """Write one Avro Object Container File (null codec) for a flat
    schema of nullable primitives.  ``rows`` is an iterable of tuples
    in field order.  Deterministic: the sync marker derives from the
    schema, so identical input produces identical bytes.  This is a
    single-file encoder — a distributed sink would run it per
    partition via ``mapPartitions`` (one file per task, exactly how
    the reader distributes decode)."""
    import hashlib

    avro_fields = []
    for f in schema.fields:
        simple = f.dataType.simpleString()
        if simple not in _SPARK_TO_AVRO:
            raise NotImplementedYet(f"avro writer: unsupported type {simple}")
        avro_fields.append({"name": f.name, "type": ["null", _SPARK_TO_AVRO[simple]]})
    avro_schema = {"type": "record", "name": "row", "fields": avro_fields}
    schema_json = json.dumps(avro_schema).encode("utf-8")
    sync = hashlib.md5(schema_json).digest()
    types = [_SPARK_TO_AVRO[f.dataType.simpleString()] for f in schema.fields]

    with open(path, "wb") as out:
        out.write(_MAGIC)
        _write_long(out, 2)  # metadata map: one block of 2 entries
        _write_bytes(out, b"avro.schema")
        _write_bytes(out, schema_json)
        _write_bytes(out, b"avro.codec")
        _write_bytes(out, b"null")
        _write_long(out, 0)  # map terminator
        out.write(sync)

        block: list[tuple] = []

        def flush() -> None:
            if not block:
                return
            payload = io.BytesIO()
            for row in block:
                for avro_type, value in zip(types, row):
                    _encode_datum(payload, avro_type, value)
            data = payload.getvalue()
            _write_long(out, len(block))
            _write_long(out, len(data))
            out.write(data)
            out.write(sync)
            block.clear()

        for row in rows:
            block.append(tuple(row))
            if len(block) >= block_size:
                flush()
        flush()


def write_avro_distributed(df: DataFrame, out_dir: str) -> list[str]:
    """Distributed Avro sink: every partition encodes its rows into its
    own container file (``part-NNNNN.avro``), executor-side — the write
    mirror of ``read_avro_fallback``'s per-file decode distribution.
    The reference has no sink surface at all (read-only catalog,
    SURVEY.md §2-B); this extends it.  RDD ``mapPartitionsWithIndex``
    is the right tool here: a sink is genuinely per-partition
    imperative I/O.  Local mode writes to a shared directory; a
    cluster deployment points this at a fused object-store mount or
    swaps the ``open()`` for an S3 multipart client — the encode path
    is unchanged.  Returns the written file paths.  Empty partitions
    write no file (matching Spark's own no-empty-files behavior)."""
    os.makedirs(out_dir, exist_ok=True)
    schema = df.schema
    names = [f.name for f in schema.fields]

    def write_part(idx: int, rows):
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return iter(())
        import itertools

        path = os.path.join(out_dir, f"part-{idx:05d}.avro")
        write_avro_container(
            path,
            schema,
            ([row[n] for n in names] for row in itertools.chain([first], it)),
        )
        return iter((path,))

    paths = df.rdd.mapPartitionsWithIndex(write_part).collect()
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass
    return sorted(paths)
