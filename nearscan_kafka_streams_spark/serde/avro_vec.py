"""Vectorized (numpy) Avro binary decoder for FLAT record schemas.

The wire source's per-record cost is the pure-Python schema walk in
``AvroCodec.decode`` plus the list-of-dicts -> Arrow conversion
(``pa.RecordBatch.from_pylist``): ~20 Python-level operations per
field per record.  Every topic schema the wire path carries is FLAT
(strings, ints, bytes-decimals, null unions -- schemas.py), so the
decode is vectorizable field-by-field across all records of a batch
(guide §4.2: hand whole batches to vectorized native code): one
``pos`` int64 vector tracks every record's cursor, each field decodes
with a handful of numpy gathers (varints iterate bytes, not records),
and the column lands directly in an ``pyarrow`` buffer -- no Python
row objects at all.

Byte-exactness contract: for every schema :meth:`VectorizedDecoder.
supports` accepts, ``decode_batch`` produces exactly the rows
``AvroCodec.decode`` produces (tests/test_avro_vec.py fuzzes both
paths against each other).  Anything else -- nested records, arrays,
maps, non-null-first unions, scale-mismatched decimals -- is refused
at construction time and the caller falls back to the row decoder.

Decoding stays executor-side: the reader (sources/pyds.py) constructs
one decoder per task and feeds it record-body offset vectors per
Arrow batch.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

from nearscan_kafka_streams_spark.serde.avro import BODY_LENGTH_MSG

# union branch bytes: zigzag(0) = 0x00, zigzag(1) = 0x02 -- always one
# byte, so a ["null", T] branch index is a single-byte gather
_BRANCH_NULL = 0
_BRANCH_VALUE = 2

_PRIMITIVES = {"string", "bytes", "int", "long", "boolean", "float", "double"}


def _field_plan(avro_field_type) -> tuple[bool, str, dict] | None:
    """(nullable, primitive-name, schema-dict) for a supported field
    type, else None."""
    t = avro_field_type
    nullable = False
    if isinstance(t, list):
        # only the exact 2-branch null-first union the generated wire
        # schemas declare (avro_schema_from_struct); anything else is
        # someone else's schema -- refuse, fall back
        if len(t) != 2 or t[0] != "null":
            return None
        nullable = True
        t = t[1]
    if isinstance(t, str):
        return (nullable, t, {}) if t in _PRIMITIVES else None
    if isinstance(t, dict):
        base = t.get("type")
        if base in _PRIMITIVES:
            return (nullable, base, t)
    return None


class VectorizedDecoder:
    """Numpy field-sweep decoder for one flat Avro record schema.

    ``arrow_schema`` is the Spark schema's Arrow image (the same one
    the row path types its batches with), so both paths produce
    identically-typed RecordBatches.
    """

    def __init__(self, avro_schema: dict | str, arrow_schema: pa.Schema):
        if isinstance(avro_schema, str):
            avro_schema = json.loads(avro_schema)
        plan = self._plan(avro_schema, arrow_schema)
        if plan is None:
            raise ValueError("schema not vectorizable")
        self.fields = plan  # list of (name, nullable, prim, meta, arrow_type)
        self.arrow_schema = arrow_schema

    # -- construction-time gate

    @staticmethod
    def _plan(avro_schema: dict, arrow_schema: pa.Schema):
        if (
            not isinstance(avro_schema, dict)
            or avro_schema.get("type") != "record"
        ):
            return None
        arrow_types = {f.name: f.type for f in arrow_schema}
        fields = []
        for f_ in avro_schema.get("fields", []):
            fp = _field_plan(f_["type"])
            if fp is None:
                return None
            nullable, prim, meta = fp
            at = arrow_types.get(f_["name"])
            if at is None:
                # wire field the Spark schema does not carry: the row
                # path would decode-and-drop it; supported as a skip
                fields.append((f_["name"], nullable, prim, meta, None))
                continue
            if meta.get("logicalType") == "decimal":
                if not pa.types.is_decimal(at):
                    return None
                if int(meta.get("scale", 0)) != at.scale:
                    # a rescale is a value transformation the sweep
                    # does not do -- refuse, fall back
                    return None
            fields.append((f_["name"], nullable, prim, meta, at))
        return fields

    @classmethod
    def supports(
        cls, avro_schema: dict | str, arrow_schema: pa.Schema
    ) -> bool:
        if isinstance(avro_schema, str):
            try:
                avro_schema = json.loads(avro_schema)
            except ValueError:
                return False
        return cls._plan(avro_schema, arrow_schema) is not None

    # -- the field sweep

    def decode_batch(
        self,
        buf: np.ndarray,
        body_starts: np.ndarray,
        body_ends: np.ndarray | None = None,
    ) -> pa.RecordBatch:
        """Decode the records whose Avro bodies start at ``body_starts``
        within ``buf`` (uint8, padded by >= 10 bytes past the last
        record so finished-lane gathers stay in bounds) into one
        RecordBatch typed by ``arrow_schema``.  Given ``body_ends``,
        a record that does not end exactly at its body's end raises
        ``ValueError`` (the row codec's check, over the whole batch)."""
        n = len(body_starts)
        pos = body_starts.astype(np.int64, copy=True)
        all_lanes = np.ones(n, dtype=bool)
        columns: dict[str, pa.Array] = {}
        for name, nullable, prim, meta, arrow_type in self.fields:
            if nullable:
                branch = buf[pos]
                pos = pos + 1
                valid = branch == _BRANCH_VALUE
                bad = ~valid & (branch != _BRANCH_NULL)
                if bad.any():
                    raise ValueError(
                        f"field {name}: unexpected union branch byte "
                        f"{int(buf[pos[bad.argmax()] - 1])}"
                    )
            else:
                valid = all_lanes
            arr, pos = self._decode_field(
                buf, pos, valid, prim, meta, arrow_type, n
            )
            if arrow_type is not None:
                columns[name] = arr
        if body_ends is not None and (pos != body_ends).any():
            raise ValueError(BODY_LENGTH_MSG)
        return pa.RecordBatch.from_arrays(
            [columns[f.name] for f in self.arrow_schema],
            schema=self.arrow_schema,
        )

    def _decode_field(self, buf, pos, valid, prim, meta, arrow_type, n):
        validity = None if bool(valid.all()) else _validity(valid)
        null_count = 0 if validity is None else int(n - valid.sum())
        if prim in ("int", "long"):
            vals, pos = _varint_vec(buf, pos, valid)
            signed = _zigzag(vals)
            if arrow_type is None:
                return None, pos
            arr = pa.Array.from_buffers(
                pa.int64(),
                n,
                [validity, pa.py_buffer(signed.tobytes())],
                null_count,
            )
            if not pa.types.is_int64(arrow_type):
                # checked cast: out-of-range values raise, like the
                # row path's Arrow conversion
                arr = arr.cast(arrow_type)
            return arr, pos
        if prim == "boolean":
            b = buf[pos]
            pos = pos + np.where(valid, 1, 0)
            if arrow_type is None:
                return None, pos
            bits = _validity(valid & (b != 0))
            arr = pa.Array.from_buffers(
                pa.bool_(), n, [validity, bits], null_count
            )
            return arr, pos
        if prim in ("float", "double"):
            width = 4 if prim == "float" else 8
            idx = pos[:, None] + np.arange(width, dtype=np.int64)
            raw = buf[idx].reshape(n, width).copy()
            pos = pos + np.where(valid, width, 0)
            if arrow_type is None:
                return None, pos
            arr = pa.Array.from_buffers(
                pa.float32() if width == 4 else pa.float64(),
                n,
                [validity, pa.py_buffer(raw.tobytes())],
                null_count,
            )
            return arr, pos
        if prim in ("string", "bytes"):
            raw_len, pos = _varint_vec(buf, pos, valid)
            lens = _zigzag(raw_len)
            if (lens < 0).any():
                raise ValueError("negative avro length")
            lens = np.where(valid, lens, 0)
            starts = pos.copy()
            pos = pos + lens
            if arrow_type is None:
                return None, pos
            if meta.get("logicalType") == "decimal":
                return (
                    _decimal_col(
                        buf, starts, lens, valid, validity, null_count,
                        arrow_type, n,
                    ),
                    pos,
                )
            offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            total = int(offsets[-1])
            if total:
                gather = np.arange(total, dtype=np.int64) + np.repeat(
                    starts - offsets[:-1], lens
                )
                data = buf[gather]
            else:
                data = np.empty(0, dtype=np.uint8)
            arr = pa.Array.from_buffers(
                pa.string() if prim == "string" else pa.binary(),
                n,
                [
                    validity,
                    pa.py_buffer(offsets.astype(np.int32).tobytes()),
                    pa.py_buffer(data.tobytes()),
                ],
                null_count,
            )
            if prim == "string":
                # the row path's bytes.decode("utf-8") validates;
                # keep the same contract (vectorized C check)
                arr.validate(full=True)
            return arr, pos
        raise ValueError(f"unsupported primitive {prim}")


def _varint_vec(buf, pos, active):
    """Vectorized unsigned LEB128: one gather per byte-position (max
    10 for a 64-bit varint), not one loop per record."""
    acc = np.zeros(len(pos), dtype=np.uint64)
    shift = np.uint64(0)
    live = active.copy()
    p = pos.copy()
    while live.any():
        b = buf[p]
        acc = np.where(
            live, acc | ((b & 0x7F).astype(np.uint64) << shift), acc
        )
        p = np.where(live, p + 1, p)
        live = live & ((b & 0x80) != 0)
        shift += np.uint64(7)
        if shift >= np.uint64(70) and live.any():
            raise ValueError("varint longer than 10 bytes")
    return acc, p


def _zigzag(acc: np.ndarray) -> np.ndarray:
    return (
        (acc >> np.uint64(1)) ^ (np.uint64(0) - (acc & np.uint64(1)))
    ).view(np.int64)


def _validity(mask: np.ndarray):
    return pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())


def _decimal_col(
    buf, starts, lens, valid, validity, null_count, arrow_type, n
):
    """Minimal-two's-complement big-endian bytes -> decimal128 storage
    (16-byte little-endian int128), built by byte-position scatter --
    max 16 vector ops however many records."""
    if (lens > 16).any():
        # magnitude >= 2^120: beyond decimal128 storage; the row path
        # raises in the Arrow conversion -- match by refusing here
        # (the caller's fallback reproduces the row path's error)
        raise OverflowError("decimal wider than 16 bytes")
    out = np.zeros((n, 16), dtype=np.uint8)
    has = valid & (lens > 0)
    sign = np.zeros(n, dtype=np.uint8)
    if has.any():
        first = buf[np.where(has, starts, 0)]
        sign = np.where(has & ((first & 0x80) != 0), 0xFF, 0).astype(
            np.uint8
        )
    out[:] = sign[:, None]
    max_len = int(lens.max()) if n else 0
    for j in range(max_len):
        m = has & (lens > j)
        if not m.any():
            continue
        # little-endian byte j = big-endian byte (len-1-j)
        out[m, j] = buf[starts[m] + lens[m] - 1 - j]
    return pa.Array.from_buffers(
        arrow_type, n, [validity, pa.py_buffer(out.tobytes())], null_count
    )
