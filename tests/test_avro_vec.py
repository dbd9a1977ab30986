"""Byte-exactness gate for the vectorized Avro decoder: for every
schema VectorizedDecoder.supports() accepts, decode_batch must produce
EXACTLY the rows AvroCodec.decode produces over the same wire bytes
(round-12 verdict item 3: the vectorized rewrite ships only behind
byte-exact codec tests).  No Spark session needed -- the Arrow schema
image is a pure function of the StructType."""

from __future__ import annotations

import decimal
import random

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from nearscan_kafka_streams_spark.schemas import (
    AVRO_PRECISION_OVERRIDES,
    TOPIC_SCHEMAS,
)
from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    avro_schema_from_struct,
)
from nearscan_kafka_streams_spark.serde.avro_vec import VectorizedDecoder


def _arrow_schema(struct):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct)


def _pack(bodies):
    """Concatenate Avro bodies into one padded buffer + starts vector
    (the shape _scan_frame_bodies hands the decoder)."""
    starts = []
    pos = 0
    chunks = []
    for b in bodies:
        starts.append(pos)
        chunks.append(b)
        pos += len(b)
    buf = np.frombuffer(
        b"".join(chunks) + b"\x00" * 16, dtype=np.uint8
    ).copy()
    return buf, np.asarray(starts, dtype=np.int64)


def _decode_both(struct, avro_schema, records):
    codec = AvroCodec(avro_schema)
    bodies = [codec.encode(r) for r in records]
    expected = [codec.decode(b) for b in bodies]
    arrow_schema = _arrow_schema(struct)
    assert VectorizedDecoder.supports(avro_schema, arrow_schema)
    dec = VectorizedDecoder(avro_schema, arrow_schema)
    buf, starts = _pack(bodies)
    batch = dec.decode_batch(buf, starts)
    names = [f.name for f in struct.fields]
    got = batch.to_pylist()
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        for n in names:
            gv, ev = g[n], e.get(n)
            if isinstance(ev, float) and isinstance(gv, float):
                assert (gv == ev) or (gv != gv and ev != ev), (n, gv, ev)
            else:
                assert gv == ev, (n, gv, ev)
    return batch


def _rand_string(rng):
    pools = [
        "",
        "a",
        "hello world",
        "x" * 300,  # multi-byte varint length
        "é☃\U0001f600 mixed",  # 2/3/4-byte utf-8
        "near.account." + str(rng.randrange(10**12)),
    ]
    return rng.choice(pools)


def _rand_record(struct, rng, overrides):
    rec = {}
    for f in struct.fields:
        if f.nullable and rng.random() < 0.3:
            rec[f.name] = None
            continue
        t = f.dataType.simpleString()
        if t == "string":
            rec[f.name] = _rand_string(rng)
        elif t == "int":
            rec[f.name] = rng.choice(
                [0, 1, -1, 63, -64, 2**31 - 1, -(2**31), rng.randrange(-1000, 1000)]
            )
        elif t == "bigint":
            rec[f.name] = rng.choice(
                [0, -1, 2**62, -(2**63), 2**63 - 1, rng.randrange(-(10**6), 10**6)]
            )
        elif t == "boolean":
            rec[f.name] = rng.random() < 0.5
        elif t == "float":
            rec[f.name] = rng.choice([0.0, -1.5, 3.25, 1e30])
        elif t == "double":
            rec[f.name] = rng.choice([0.0, -1.5e-300, 3.141592653589793])
        elif t.startswith("decimal"):
            prec = overrides.get(f.name, f.dataType.precision)
            digits = rng.randrange(1, min(prec, 38) + 1)
            mag = rng.randrange(0, 10**digits)
            v = decimal.Decimal(mag) * (1 if rng.random() < 0.7 else -1)
            rec[f.name] = v.scaleb(-f.dataType.scale)
        else:  # pragma: no cover
            raise AssertionError(t)
    return rec


@pytest.mark.parametrize("topic", sorted(TOPIC_SCHEMAS))
def test_topic_schemas_byte_exact(topic):
    struct = TOPIC_SCHEMAS[topic][0]
    avro = avro_schema_from_struct(
        struct,
        name="Value",
        namespace=f"near.indexer.{topic}",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    rng = random.Random(hash(topic) & 0xFFFF)
    records = [_rand_record(struct, rng, AVRO_PRECISION_OVERRIDES) for _ in range(500)]
    batch = _decode_both(struct, avro, records)
    assert batch.num_rows == 500


def test_all_primitive_types_byte_exact():
    struct = StructType(
        [
            StructField("b", BooleanType(), True),
            StructField("f", FloatType(), True),
            StructField("d", DoubleType(), False),
            StructField("l", LongType(), True),
        ]
    )
    avro = avro_schema_from_struct(struct, name="Prim")
    rng = random.Random(7)
    records = [_rand_record(struct, rng, {}) for _ in range(300)]
    _decode_both(struct, avro, records)


def test_decimal_edges_byte_exact():
    struct = TOPIC_SCHEMAS["execution_outcomes"][0]
    avro = avro_schema_from_struct(
        struct,
        name="Value",
        namespace="near.indexer.execution_outcomes",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    base = {f.name: "" for f in struct.fields if f.dataType.simpleString() == "string"}
    base["index_in_chunk"] = 0
    edges = [0, 1, -1, 127, -128, 10**19, 10**38 - 1, -(10**38) + 1, 2**119, -(2**119)]
    records = []
    for v in edges:
        r = dict(base)
        r["executed_in_block_timestamp"] = decimal.Decimal(min(abs(v), 10**19))
        r["gas_burnt"] = decimal.Decimal(0)
        r["shard_id"] = decimal.Decimal(3)
        r["tokens_burnt"] = decimal.Decimal(v)
        r["__deleted"] = None
        records.append(r)
    _decode_both(struct, avro, records)


def test_oversized_decimal_refused_not_corrupted():
    # magnitude >= 2^120 exceeds decimal128 storage: the vector path
    # must REFUSE (caller falls back to the row path, which raises in
    # the Arrow conversion) -- never silently truncate
    struct = TOPIC_SCHEMAS["execution_outcomes"][0]
    avro = avro_schema_from_struct(
        struct,
        name="Value",
        namespace="near.indexer.execution_outcomes",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    codec = AvroCodec(avro)
    rec = {f.name: ("" if f.dataType.simpleString() == "string" else None) for f in struct.fields}
    rec["index_in_chunk"] = 0
    rec["executed_in_block_timestamp"] = decimal.Decimal(1)
    rec["gas_burnt"] = decimal.Decimal(1)
    rec["shard_id"] = decimal.Decimal(1)
    rec["tokens_burnt"] = decimal.Decimal(2**130)  # 17-byte two's complement
    body = codec.encode(rec)
    dec = VectorizedDecoder(avro, _arrow_schema(struct))
    buf, starts = _pack([body])
    with pytest.raises(OverflowError):
        dec.decode_batch(buf, starts)


def test_unsupported_schemas_refused():
    arrow = pa.schema([pa.field("a", pa.int64())])
    # array type -> not vectorizable
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": {"type": "array", "items": "long"}}]},
        arrow,
    )
    # non-null-first union
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": ["long", "null"]}]},
        arrow,
    )
    # nested record
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": {"type": "record", "name": "S", "fields": []}}]},
        arrow,
    )
    # scale mismatch between wire decimal and arrow image
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 38, "scale": 2}}]},
        pa.schema([pa.field("a", pa.decimal128(38, 0))]),
    )
    # flat + null-first union + matching decimal -> vectorizable
    assert VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": ["null", "string"], "default": None},
            {"name": "b", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 45, "scale": 0}}]},
        pa.schema([pa.field("a", pa.string()), pa.field("b", pa.decimal128(38, 0))]),
    )


def test_empty_batch():
    struct = TOPIC_SCHEMAS["receipts"][0]
    avro = avro_schema_from_struct(
        struct, name="Value", namespace="near.indexer.receipts",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    dec = VectorizedDecoder(avro, _arrow_schema(struct))
    buf, starts = _pack([])
    batch = dec.decode_batch(buf, starts)
    assert batch.num_rows == 0


@pytest.mark.parametrize("vectorized", [True, False])
def test_short_frame_rejected_on_both_lanes(tmp_path, vectorized):
    """A frame whose body does not hold exactly one record -- shorter
    than the 5-byte Confluent header, a bare header, a body cut short
    or followed by stray bytes -- raises the same ValueError on both
    lanes instead of the vector lane decoding the next record's
    bytes."""
    from nearscan_kafka_streams_spark.serde.avro import (
        BODY_LENGTH_MSG,
        SHORT_FRAME_MSG,
        confluent_frame,
    )
    from nearscan_kafka_streams_spark.sources.pyds import (
        _batches_auto,
        write_framed_log,
    )

    struct = TOPIC_SCHEMAS["receipts"][0]
    avro = avro_schema_from_struct(
        struct, name="Value", namespace="near.indexer.receipts",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    codec = AvroCodec(avro)
    rng = random.Random(5)
    good = [confluent_frame(1, codec.encode(_rand_record(struct, rng, {})))
            for _ in range(3)]
    names = [f.name for f in struct.fields]
    for i, (bad, msg) in enumerate([
        (b"\x00\x00\x01", SHORT_FRAME_MSG),
        (confluent_frame(1, b""), BODY_LENGTH_MSG),
        (good[1][:-1], BODY_LENGTH_MSG),
        (good[1] + b"\x00", BODY_LENGTH_MSG),
    ]):
        path = str(tmp_path / f"log-{i}.bin")
        write_framed_log([good[0], bad, good[1], good[2]], path)
        with pytest.raises(ValueError) as exc:
            list(_batches_auto(path, 0, None, avro, names,
                               _arrow_schema(struct), 4096,
                               vectorized=vectorized))
        assert str(exc.value) == msg, bad


def test_short_frame_rejected_by_scan_and_unframe(tmp_path):
    from nearscan_kafka_streams_spark.serde.avro import (
        SHORT_FRAME_MSG,
        confluent_unframe,
    )
    from nearscan_kafka_streams_spark.sources.pyds import (
        _scan_frame_bodies,
        write_framed_log,
    )

    for frame in (b"", b"\x00", b"\x00\x00\x00\x00"):
        with pytest.raises(ValueError) as exc:
            confluent_unframe(frame)
        assert str(exc.value) == SHORT_FRAME_MSG
    path = str(tmp_path / "log.bin")
    write_framed_log([b"\x00\x00\x00\x00\x01\x02", b"\x00\x00"], path)
    with pytest.raises(ValueError) as exc:
        _scan_frame_bodies(path)
    assert str(exc.value) == SHORT_FRAME_MSG
    # a short record outside the requested range is not decoded
    buf, starts, ends = _scan_frame_bodies(path, 0, 1)
    assert list(starts) == [9]
    assert list(ends) == [10]
