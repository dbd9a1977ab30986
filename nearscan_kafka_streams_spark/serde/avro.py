"""Pure-Python Avro binary codec + Confluent wire format.

The reference's every topic carries Confluent-framed Avro
(``Consumed.with(String, SpecificAvro)``, TokenBalance.java:92-110;
serde wiring util/Schemas.java:88-136).  This container has no
``spark-avro``/Kafka connector jars and no network, so the wire path is
implemented directly against the public Apache Avro specification
(binary encoding: zigzag-varint ints, length-prefixed strings/bytes,
union branch index, record field concatenation, decimal logical type =
big-endian two's-complement unscaled int in ``bytes``).

Avro schemas are GENERATED from the declared Spark StructTypes
(:func:`avro_schema_from_struct`) -- one source of truth -- with the
reference's declared decimal precisions restored (yocto amounts are
decimal(45,0) in the .avsc files; Spark's DecimalType caps at 38, see
schemas.py).  Wire layout does not depend on precision, so frames are
byte-compatible with the reference's Connect producers.

Spark integration: Arrow-batched pandas UDFs (:func:`decode_confluent_udf`
/ :func:`encode_confluent_udf`).  Per-record Python at the serde
boundary is the same cost model as any Kafka deserializer; everything
downstream stays JVM-side.
"""

from __future__ import annotations

import decimal
import json
import struct as _struct

import pandas as pd  # module-level: pandas_udf type-hint resolution

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

CONFLUENT_MAGIC = b"\x00"


# ---------------------------------------------------------------- varints

def _zigzag_encode(n: int, out: bytearray) -> None:
    # zigzag then unsigned LEB128 (Avro int/long wire encoding)
    z = (n << 1) ^ (n >> 63)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


# ------------------------------------------------------------- the codec

class AvroCodec:
    """Encode/decode records for one Avro schema (dict or JSON string).

    Supports the types the reference's six .avsc schemas use -- string,
    int, long, boolean, float, double, bytes (incl. decimal logical
    type), null-unions, nested records and named-type references --
    plus arrays and maps for generality.
    """

    def __init__(self, schema: dict | str):
        if isinstance(schema, str):
            schema = json.loads(schema)
        self.schema = schema
        self._names: dict[str, dict] = {}
        self._collect_names(schema, schema.get("namespace"))

    def _collect_names(self, schema, namespace) -> None:
        if isinstance(schema, dict):
            t = schema.get("type")
            if t == "record":
                ns = schema.get("namespace", namespace)
                full = f"{ns}.{schema['name']}" if ns else schema["name"]
                self._names[full] = schema
                self._names.setdefault(schema["name"], schema)
                for f_ in schema["fields"]:
                    self._collect_names(f_["type"], ns)
            elif t == "array":
                self._collect_names(schema["items"], namespace)
            elif t == "map":
                self._collect_names(schema["values"], namespace)
        elif isinstance(schema, list):
            for branch in schema:
                self._collect_names(branch, namespace)

    def _resolve(self, schema):
        if isinstance(schema, str) and schema in self._names:
            return self._names[schema]
        return schema

    # -- encode

    def encode(self, record: dict) -> bytes:
        out = bytearray()
        self._write(self.schema, record, out)
        return bytes(out)

    def _write(self, schema, value, out: bytearray) -> None:
        schema = self._resolve(schema)
        if isinstance(schema, list):  # union: branch index then value
            idx = self._branch_index(schema, value)
            _zigzag_encode(idx, out)
            self._write(schema[idx], value, out)
            return
        t = schema if isinstance(schema, str) else schema["type"]
        if t == "null":
            return
        if value is None:
            # a None reaching a non-null branch would serialize as the
            # string "None" / false -- corrupt frames; fail encode-time
            raise ValueError(f"cannot encode None as avro type {t!r}")
        if t == "boolean":
            out.append(1 if value else 0)
        elif t in ("int", "long"):
            _zigzag_encode(int(value), out)
        elif t == "float":
            out += _struct.pack("<f", float(value))
        elif t == "double":
            out += _struct.pack("<d", float(value))
        elif t == "string":
            b = str(value).encode("utf-8")
            _zigzag_encode(len(b), out)
            out += b
        elif t == "bytes":
            if schema_get(schema, "logicalType") == "decimal":
                b = _decimal_to_bytes(value, schema_get(schema, "scale", 0))
            else:
                b = bytes(value)
            _zigzag_encode(len(b), out)
            out += b
        elif t == "record":
            for f_ in schema["fields"]:
                self._write(f_["type"], value.get(f_["name"]), out)
        elif t == "array":
            items = list(value or [])
            if items:
                _zigzag_encode(len(items), out)
                for item in items:
                    self._write(schema["items"], item, out)
            _zigzag_encode(0, out)
        elif t == "map":
            entries = dict(value or {})
            if entries:
                _zigzag_encode(len(entries), out)
                for k, v in entries.items():
                    kb = k.encode("utf-8")
                    _zigzag_encode(len(kb), out)
                    out += kb
                    self._write(schema["values"], v, out)
            _zigzag_encode(0, out)
        else:
            raise ValueError(f"unsupported avro type: {t}")

    def _branch_index(self, union: list, value) -> int:
        for i, branch in enumerate(union):
            b = self._resolve(branch)
            bt = b if isinstance(b, str) else b.get("type")
            if value is None and bt == "null":
                return i
            if value is not None and bt != "null":
                return i
        raise ValueError(f"no union branch for value {value!r} in {union}")

    # -- decode

    def decode(self, data: bytes) -> dict:
        try:
            value, end = self._read(self.schema, data, 0)
        except (IndexError, _struct.error):
            end = None  # the record runs past the end of ``data``
        if end != len(data):
            raise ValueError(BODY_LENGTH_MSG)
        return value

    def _read(self, schema, buf: bytes, pos: int):
        schema = self._resolve(schema)
        if isinstance(schema, list):
            idx, pos = _zigzag_decode(buf, pos)
            return self._read(schema[idx], buf, pos)
        t = schema if isinstance(schema, str) else schema["type"]
        if t == "null":
            return None, pos
        if t == "boolean":
            return buf[pos] != 0, pos + 1
        if t in ("int", "long"):
            return _zigzag_decode(buf, pos)
        if t == "float":
            return _struct.unpack_from("<f", buf, pos)[0], pos + 4
        if t == "double":
            return _struct.unpack_from("<d", buf, pos)[0], pos + 8
        if t == "string":
            n, pos = _zigzag_decode(buf, pos)
            return buf[pos : pos + n].decode("utf-8"), pos + n
        if t == "bytes":
            n, pos = _zigzag_decode(buf, pos)
            raw = buf[pos : pos + n]
            pos += n
            if schema_get(schema, "logicalType") == "decimal":
                return _bytes_to_decimal(raw, schema_get(schema, "scale", 0)), pos
            return bytes(raw), pos
        if t == "record":
            rec = {}
            for f_ in schema["fields"]:
                rec[f_["name"]], pos = self._read(f_["type"], buf, pos)
            return rec, pos
        if t == "array":
            items = []
            while True:
                n, pos = _zigzag_decode(buf, pos)
                if n == 0:
                    break
                if n < 0:  # block with byte-size prefix
                    n = -n
                    _, pos = _zigzag_decode(buf, pos)
                for _i in range(n):
                    v, pos = self._read(schema["items"], buf, pos)
                    items.append(v)
            return items, pos
        if t == "map":
            entries = {}
            while True:
                n, pos = _zigzag_decode(buf, pos)
                if n == 0:
                    break
                if n < 0:
                    n = -n
                    _, pos = _zigzag_decode(buf, pos)
                for _i in range(n):
                    klen, pos = _zigzag_decode(buf, pos)
                    k = buf[pos : pos + klen].decode("utf-8")
                    pos += klen
                    entries[k], pos = self._read(schema["values"], buf, pos)
            return entries, pos
        raise ValueError(f"unsupported avro type: {t}")


def schema_get(schema, key, default=None):
    return schema.get(key, default) if isinstance(schema, dict) else default


# scaleb rounds at the ambient context precision (default 28 digits) --
# silently corrupting 29+-digit yocto amounts; always scale at a
# precision wider than the 45-digit wire decimals
_DEC_CTX = decimal.Context(prec=99)


def _decimal_to_bytes(value, scale: int) -> bytes:
    unscaled = int(decimal.Decimal(value).scaleb(scale, context=_DEC_CTX))
    # minimal two's complement, byte-identical to Java
    # BigInteger.toByteArray (what Connect's Decimal serializer emits)
    bl = unscaled.bit_length() if unscaled >= 0 else (-unscaled - 1).bit_length()
    return unscaled.to_bytes(bl // 8 + 1, "big", signed=True)


def _bytes_to_decimal(raw: bytes, scale: int) -> decimal.Decimal:
    unscaled = int.from_bytes(raw, "big", signed=True)
    return decimal.Decimal(unscaled).scaleb(-scale, context=_DEC_CTX)


# ------------------------------------------------- Confluent wire format

def confluent_frame(schema_id: int, body: bytes) -> bytes:
    """magic 0x00 + big-endian 4-byte schema id + avro binary body."""
    return CONFLUENT_MAGIC + schema_id.to_bytes(4, "big") + body


# magic byte + 4-byte schema id: a shorter record has no Avro body
FRAME_HEADER_LEN = 5
SHORT_FRAME_MSG = (
    f"not Confluent wire format (frame shorter than the "
    f"{FRAME_HEADER_LEN}-byte header)"
)
# a frame's body holds exactly one record: a record that ends before
# the body does, or runs past it, is not this schema's value
BODY_LENGTH_MSG = "Avro body length does not match its record"


def confluent_unframe(data: bytes) -> tuple[int, bytes]:
    if len(data) < FRAME_HEADER_LEN:
        raise ValueError(SHORT_FRAME_MSG)
    if data[0:1] != CONFLUENT_MAGIC:
        raise ValueError("not Confluent wire format (bad magic byte)")
    return int.from_bytes(data[1:5], "big"), data[5:]


# -------------------------------------- StructType -> Avro value schema

def avro_schema_from_struct(
    struct: StructType,
    name: str = "Value",
    namespace: str = "",
    precision_overrides: dict[str, int] | None = None,
) -> dict:
    """Generate the Avro value schema a Connect producer would declare
    for this record (mirrors the reference's .avsc layout; decimal
    fields carry ``precision_overrides`` -- e.g. 45 for yocto amounts
    where Spark's DecimalType is capped at 38, schemas.py:36-40)."""
    overrides = precision_overrides or {}
    fields = []
    for f_ in struct.fields:
        avro_t = _avro_type(f_.dataType, overrides.get(f_.name))
        if f_.nullable:
            fields.append(
                {"name": f_.name, "type": ["null", avro_t], "default": None}
            )
        else:
            fields.append({"name": f_.name, "type": avro_t})
    out = {"type": "record", "name": name, "fields": fields}
    if namespace:
        out["namespace"] = namespace
    return out


def _avro_type(dtype, precision_override: int | None):
    if isinstance(dtype, StringType):
        return "string"
    if isinstance(dtype, IntegerType):
        return "int"
    if isinstance(dtype, LongType):
        return "long"
    if isinstance(dtype, BooleanType):
        return "boolean"
    if isinstance(dtype, FloatType):
        return "float"
    if isinstance(dtype, DoubleType):
        return "double"
    if isinstance(dtype, BinaryType):
        return "bytes"
    if isinstance(dtype, DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": precision_override or dtype.precision,
            "scale": dtype.scale,
        }
    raise ValueError(f"no avro mapping for Spark type {dtype}")


# --------------------------------------------------- Spark-side serdes

def decode_confluent_udf(
    avro_schema: dict | str,
    spark_schema: StructType,
    framed: bool = True,
):
    """Build a pandas UDF: Confluent-framed (or bare) Avro binary column
    -> struct column of ``spark_schema``.

    Decimal values wider than the Spark field's precision decode to
    null -- the same documented bound as the batch path's ``try_cast``
    (schemas.py:36-40); count them upstream if loss must be observable.
    """
    codec = AvroCodec(avro_schema)
    caps = {
        f_.name: (f_.dataType.precision, f_.dataType.scale)
        for f_ in spark_schema.fields
        if isinstance(f_.dataType, DecimalType)
    }
    int_cols = [
        f_.name
        for f_ in spark_schema.fields
        if isinstance(f_.dataType, IntegerType)
    ]
    names = [f_.name for f_ in spark_schema.fields]

    def _decode_series(s: pd.Series) -> pd.DataFrame:
        rows = []
        for blob in s:
            body = confluent_unframe(bytes(blob))[1] if framed else bytes(blob)
            rec = codec.decode(body)
            for col, (prec, scale) in caps.items():
                v = rec.get(col)
                if v is None:
                    continue
                # precision = digits of the UNSCALED value (int digits
                # alone would under-reject fractional decimals)
                unscaled = abs(int(decimal.Decimal(v).scaleb(scale, _DEC_CTX)))
                if len(str(unscaled)) > prec:
                    rec[col] = None
            rows.append([rec.get(n) for n in names])
        pdf = pd.DataFrame(rows, columns=names)
        for c in int_cols:
            # nullable Int32: plain int32 raises on None (null unions)
            pdf[c] = pdf[c].astype("Int32")
        return pdf

    # pandas_udf needs a live session to resolve the return type; built
    # lazily at call time, never at import (see session-recipe notes)
    return F.pandas_udf(_decode_series, returnType=spark_schema)


def encode_confluent_udf(
    avro_schema: dict | str,
    schema_id: int = 1,
    framed: bool = True,
):
    """Build a pandas UDF: struct column -> Confluent-framed Avro binary.

    Mirror of the reference's ``Produced.with(SpecificAvro)`` leg
    (TokenBalance.java:274-276, 331-333)."""
    codec = AvroCodec(avro_schema)

    def _encode_frame(pdf: pd.DataFrame) -> pd.Series:
        cols = list(pdf.columns)
        out = []
        for tup in pdf.itertuples(index=False, name=None):
            rec = {
                c: (None if v is None or v is pd.NA else _plain(v))
                for c, v in zip(cols, tup)
            }
            body = codec.encode(rec)
            out.append(confluent_frame(schema_id, body) if framed else body)
        return pd.Series(out)

    return F.pandas_udf(_encode_frame, returnType=BinaryType())


def _plain(v):
    """numpy scalars -> Python natives (keep Decimal/str/bytes as-is)."""
    if isinstance(v, float) and pd.isna(v):
        return None
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (bytes, decimal.Decimal)):
        return v.item()
    return v
