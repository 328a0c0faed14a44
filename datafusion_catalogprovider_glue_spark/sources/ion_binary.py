"""Amazon Ion 1.0 BINARY codec — the one SerDe arm both the reference
and (until r8) this engine only approximated.

The reference routes ``com.amazon.ionhiveserde.IonHiveSerDe`` tables to
its JSON reader (glue.rs:421-425), so a Glue table whose files are
BINARY Ion (the format Ion-native producers actually emit) breaks in
both engines.  This module goes beyond that envelope in the
``avro_fallback.py`` style: a pure-Python decoder for the binary Ion
subset a tabular Glue table can contain (top-level structs of
null/bool/int/float/string/symbol scalars plus lists, with local
symbol tables), and the matching encoder used by fixtures and tests.

Format notes (Amazon Ion spec, https://amazon-ion.github.io/ion-docs/
docs/binary.html):
* stream = Binary Version Marker ``E0 01 00 EA`` + top-level values;
  the BVM may repeat mid-stream (concatenated streams) and resets the
  symbol table.
* every value starts with a type descriptor byte: type T in the high
  nibble, length L in the low nibble; L = 14 means a VarUInt length
  follows, L = 15 means null of that type.
* VarUInt: big-endian 7-bit groups, the final byte has bit 7 set.
* struct fields are (VarUInt symbol id, value) pairs; field names are
  symbol table references, never inline text.
* a local symbol table is a top-level struct annotated with
  ``$ion_symbol_table`` (system SID 3); its ``symbols`` field (SID 7)
  lists new symbol texts assigned SIDs 10, 11, … — appended to the
  current table when ``imports`` (SID 6) is the symbol
  ``$ion_symbol_table``, replacing it otherwise.

Unsupported-on-purpose (fail loudly, matching the engine's refusal
convention): decimals, timestamps, clobs/blobs, S-expressions, shared
symbol table imports — none of which a Glue tabular schema can map.

Scale shape mirrors read_avro_fallback: files fan out one-per-task and
decode executor-side; only the file listing touches the driver.
"""

from __future__ import annotations

import os
import struct as _struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import NotImplementedYet

_BVM = b"\xe0\x01\x00\xea"

# Ion 1.0 system symbols, SIDs 1-9
_SYSTEM_SYMBOLS = [
    "$ion", "$ion_1_0", "$ion_symbol_table", "name", "version",
    "imports", "symbols", "max_id", "$ion_shared_symbol_table",
]
_SID_ION_SYMBOL_TABLE = 3
_SID_IMPORTS = 6
_SID_SYMBOLS = 7


# ---------------------------------------------------------------------------
# encoding (fixtures/tests)
# ---------------------------------------------------------------------------


def _enc_varuint(n: int) -> bytes:
    if n < 0:
        raise ValueError("VarUInt must be non-negative")
    groups = [n & 0x7F]
    n >>= 7
    while n:
        groups.append(n & 0x7F)
        n >>= 7
    groups.reverse()
    groups[-1] |= 0x80
    return bytes(groups)


def _enc_td(t: int, length: int) -> bytes:
    """Type descriptor + (VarUInt length when L won't fit the nibble).
    L = 1 is avoided for structs (it means sorted-fields + VarUInt
    length in the spec); callers pass force_var for that case."""
    if length < 14:
        return bytes([(t << 4) | length])
    return bytes([(t << 4) | 14]) + _enc_varuint(length)


def _enc_uint(n: int) -> bytes:
    if n == 0:
        return b""
    out = []
    while n:
        out.append(n & 0xFF)
        n >>= 8
    return bytes(reversed(out))


def _enc_value(v) -> bytes:
    if v is None:
        return b"\x0f"  # null.null
    if isinstance(v, bool):
        return b"\x11" if v else b"\x10"
    if isinstance(v, int):
        mag = _enc_uint(abs(v))
        return _enc_td(2 if v >= 0 else 3, len(mag)) + mag
    if isinstance(v, float):
        if v == 0.0 and not _struct.pack(">d", v)[0]:  # +0.0e0
            return b"\x40"
        return b"\x48" + _struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode("utf-8")
        return _enc_td(8, len(b)) + b
    if isinstance(v, (list, tuple)):
        body = b"".join(_enc_value(x) for x in v)
        return _enc_td(11, len(body)) + body
    raise NotImplementedYet(
        f"ion binary encoder subset: cannot encode {type(v).__name__}"
    )


def _enc_struct(fields: list[tuple[int, bytes]]) -> bytes:
    body = b"".join(_enc_varuint(sid) + val for sid, val in fields)
    if len(body) == 1:
        # L = 1 is the sorted-struct marker; use the VarUInt-length form
        return b"\xde" + _enc_varuint(len(body)) + body
    return _enc_td(13, len(body)) + body


def _enc_annotated(annotation_sids: list[int], value: bytes) -> bytes:
    annots = b"".join(_enc_varuint(s) for s in annotation_sids)
    body = _enc_varuint(len(annots)) + annots + value
    return _enc_td(14, len(body)) + body


def encode_ion_binary(rows: list[dict], field_names: list[str]) -> bytes:
    """One binary Ion stream: BVM, a local symbol table declaring
    ``field_names`` (SIDs 10, 11, …), then one top-level struct per
    row.  None-valued fields are omitted (the tabular convention:
    absent = null)."""
    sid_of = {name: 10 + i for i, name in enumerate(field_names)}
    symtab = _enc_annotated(
        [_SID_ION_SYMBOL_TABLE],
        _enc_struct(
            [(_SID_SYMBOLS, _enc_value(list(field_names)))]
        ),
    )
    out = [_BVM, symtab]
    for row in rows:
        fields = [
            (sid_of[name], _enc_value(row[name]))
            for name in field_names
            if row.get(name) is not None
        ]
        out.append(_enc_struct(fields))
    return b"".join(out)


# ---------------------------------------------------------------------------
# decoding
# ---------------------------------------------------------------------------


def _dec_varuint(data: bytes, pos: int) -> tuple[int, int]:
    n = 0
    while True:
        b = data[pos]
        pos += 1
        n = (n << 7) | (b & 0x7F)
        if b & 0x80:
            return n, pos


def _dec_uint(data: bytes, pos: int, length: int) -> int:
    return int.from_bytes(data[pos:pos + length], "big")


def _dec_value(data: bytes, pos: int, symtab: list):
    """One value at ``pos`` → (python value, end pos).  Structs come
    back as {symbol text: value} dicts, lists as python lists."""
    td = data[pos]
    pos += 1
    t, ln = td >> 4, td & 0x0F
    if ln == 15:
        return None, pos  # typed null
    if t == 0:  # null type with L != 15: NOP padding
        if ln == 14:
            ln, pos = _dec_varuint(data, pos)
        return _NOP, pos + ln
    if t == 1:  # bool
        return ln == 1, pos
    if t in (2, 3):  # int magnitude
        if ln == 14:
            ln, pos = _dec_varuint(data, pos)
        mag = _dec_uint(data, pos, ln)
        return (mag if t == 2 else -mag), pos + ln
    if t == 4:  # float
        if ln == 0:
            return 0.0, pos
        if ln == 4:
            return _struct.unpack(">f", data[pos:pos + 4])[0], pos + 4
        if ln == 8:
            return _struct.unpack(">d", data[pos:pos + 8])[0], pos + 8
        raise NotImplementedYet(f"ion float of length {ln}")
    if t == 7:  # symbol value → its text
        if ln == 14:
            ln, pos = _dec_varuint(data, pos)
        sid = _dec_uint(data, pos, ln)
        return _sym(symtab, sid), pos + ln
    if t == 8:  # string
        if ln == 14:
            ln, pos = _dec_varuint(data, pos)
        return data[pos:pos + ln].decode("utf-8"), pos + ln
    if t == 11:  # list
        if ln == 14:
            ln, pos = _dec_varuint(data, pos)
        end = pos + ln
        out = []
        while pos < end:
            v, pos = _dec_value(data, pos, symtab)
            if v is not _NOP:
                out.append(_unwrap_nested(v))
        return out, end
    if t == 13:  # struct
        if ln == 1 or ln == 14:
            ln, pos = _dec_varuint(data, pos)
        end = pos + ln
        out = {}
        while pos < end:
            sid, pos = _dec_varuint(data, pos)
            v, pos = _dec_value(data, pos, symtab)
            if v is not _NOP:
                out[_sym(symtab, sid)] = _unwrap_nested(v)
        return out, end
    if t == 14:  # annotation wrapper
        if ln == 14:
            ln, pos = _dec_varuint(data, pos)
        end = pos + ln
        alen, pos = _dec_varuint(data, pos)
        aend = pos + alen
        sids = []
        while pos < aend:
            sid, pos = _dec_varuint(data, pos)
            sids.append(sid)
        v, pos = _dec_value(data, pos, symtab)
        return _Annotated(sids, v), end
    raise NotImplementedYet(
        f"ion binary decoder subset: type code {t} (decimal/timestamp/"
        "clob/blob/sexp are not Glue-tabular)"
    )


_NOP = object()  # NOP padding marker (never surfaces as a value)


class _Annotated:
    __slots__ = ("sids", "value")

    def __init__(self, sids, value):
        self.sids = sids
        self.value = value


def _unwrap_nested(v):
    """Annotation wrappers NESTED inside a struct field or list element
    carry no system meaning ($ion_symbol_table is special only at the
    stream's top level, amazon-ion spec §Annotations) — surface the
    wrapped value instead of leaking the internal _Annotated object
    into createDataFrame, which would crash with an opaque type error."""
    while isinstance(v, _Annotated):
        v = v.value
    return v


def _sym(symtab: list, sid: int) -> str:
    if sid == 0:
        return "$0"  # unknown-text symbol, per spec
    if 1 <= sid <= len(symtab):
        return symtab[sid - 1]
    raise NotImplementedYet(f"ion symbol id {sid} out of table range")


def decode_ion_binary(data: bytes) -> list[dict]:
    """Top-level structs of one binary Ion stream as dict rows.  Local
    symbol tables are processed (append via imports=$ion_symbol_table,
    replace otherwise) and never surface as rows; a repeated BVM
    resets the table (stream concatenation)."""
    if data[:4] != _BVM:
        raise NotImplementedYet(
            "not a binary Ion stream (missing E0 01 00 EA version marker)"
        )
    symtab = list(_SYSTEM_SYMBOLS)
    rows: list[dict] = []
    pos = 0
    while pos < len(data):
        if data[pos:pos + 4] == _BVM:
            symtab = list(_SYSTEM_SYMBOLS)
            pos += 4
            continue
        v, pos = _dec_value(data, pos, symtab)
        if v is _NOP:
            continue
        if isinstance(v, _Annotated):
            if v.sids and v.sids[0] == _SID_ION_SYMBOL_TABLE and isinstance(
                v.value, dict
            ):
                new_syms = v.value.get("symbols") or []
                if v.value.get("imports") == "$ion_symbol_table":
                    symtab.extend(new_syms)
                else:
                    symtab = list(_SYSTEM_SYMBOLS) + list(new_syms)
                continue
            v = v.value  # other annotations: transparent for tabular use
        if not isinstance(v, dict):
            raise NotImplementedYet(
                "ion binary table subset: every top-level value must be "
                f"a struct, got {type(v).__name__}"
            )
        rows.append(v)
    return rows


def is_ion_binary_file(path: str) -> bool:
    with open(path, "rb") as fh:
        return fh.read(4) == _BVM


def _data_files(location: str) -> list[str]:
    """The files of ``location``: the location itself, or a directory's
    entries not starting with ``_``/``.`` in name order.  A missing
    ``location`` raises here, not when the read first runs."""
    if not os.path.exists(location):
        raise FileNotFoundError(f"no binary Ion data at {location!r}")
    if not os.path.isdir(location):
        return [location]
    return sorted(
        os.path.join(location, n)
        for n in os.listdir(location)
        if not n.startswith(("_", "."))
    )


def read_ion_binary(
    spark: SparkSession, location: str, schema: T.StructType
) -> DataFrame:
    """Distributed read of a directory of binary Ion files under the
    Glue-derived ``schema`` (fields matched by struct field name,
    absent fields → null) — the read_avro_fallback shape: one file per
    task, decode executor-side, only the listing on the driver."""
    files = _data_files(location)
    if not files:
        return spark.createDataFrame([], schema)
    target_fields = [f.name for f in schema.fields]

    def decode_files(paths):
        for p in paths:
            with open(p, "rb") as fh:
                data = fh.read()
            for row in decode_ion_binary(data):
                yield tuple(row.get(name) for name in target_fields)

    rdd = spark.sparkContext.parallelize(files, len(files)).mapPartitions(
        decode_files
    )
    return spark.createDataFrame(rdd, schema)


_PY_TO_SPARK = {
    str: T.StringType(), bool: T.BooleanType(),
    int: T.LongType(), float: T.DoubleType(),
}


def schema_from_ion_binary_file(location: str) -> T.StructType:
    """InferSchemaFromData for binary Ion: the fields of the first
    file's decoded rows in first-seen order, typed string/long/double/
    boolean from the Python values (the subset the JSON sampler
    yields); a field that is null in every sampled row is left out."""
    files = _data_files(location)
    if not files:
        raise NotImplementedYet(
            f"no binary Ion files under {location!r} to infer from"
        )
    with open(files[0], "rb") as fh:
        sample = decode_ion_binary(fh.read())
    fields: dict[str, T.DataType] = {}
    for row in sample:
        for k, v in row.items():
            if k not in fields and v is not None:
                fields[k] = _PY_TO_SPARK.get(type(v), T.StringType())
    return T.StructType([T.StructField(k, t, True) for k, t in fields.items()])
