"""Spark 4 Python DataSource: Confluent-framed Avro logs via
format("confluentavro") -- the engine-native read path for the
reference's wire format without a broker or connector jar."""

from __future__ import annotations

import json
import os

from nearscan_kafka_streams_spark.schemas import (
    RECEIPTS_SCHEMA,
    avro_value_schema,
)
from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    confluent_frame,
)
from nearscan_kafka_streams_spark.sources.pyds import (
    ConfluentAvroDataSource,
    write_framed_log,
)


def _stage_logs(spark, tmp_path, n_files=2):
    """Encode the receipts fixture through the real wire codec into
    n length-prefixed log files."""
    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    rows = [row.asDict() for row in r.collect()]
    codec = AvroCodec(avro_value_schema("receipts"))
    framed = [confluent_frame(7, codec.encode(row)) for row in rows]
    d = tmp_path / "receipts_log"
    for i in range(n_files):
        write_framed_log(
            framed[i::n_files], str(d / f"part-{i:05d}.bin")
        )
    return str(d), rows


def test_datasource_round_trips_wire_bytes(spark, tmp_path):
    path, rows = _stage_logs(spark, tmp_path)
    spark.dataSource.register(ConfluentAvroDataSource)
    df = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", path)
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
    )
    got = sorted(
        (r["receipt_id"], str(r["included_in_block_timestamp"]))
        for r in df.collect()
    )
    want = sorted(
        (row["receipt_id"], str(row["included_in_block_timestamp"]))
        for row in rows
    )
    assert got == want
    assert df.schema == RECEIPTS_SCHEMA


def test_datasource_partitions_per_file(spark, tmp_path):
    path, _ = _stage_logs(spark, tmp_path, n_files=3)
    spark.dataSource.register(ConfluentAvroDataSource)
    df = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", path)
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
    )
    assert df.rdd.getNumPartitions() == 3


def test_datasource_feeds_the_topology(spark, tmp_path):
    """The custom source composes with the engine like any DataFrame:
    run the dedup + event-time derivation over it."""
    from nearscan_kafka_streams_spark.operators.dedup import dedup_batch
    from nearscan_kafka_streams_spark.schemas import with_event_time

    path, rows = _stage_logs(spark, tmp_path)
    spark.dataSource.register(ConfluentAvroDataSource)
    df = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", path)
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
    )
    out = dedup_batch(
        with_event_time(df, "included_in_block_timestamp"),
        ["receipt_id"],
    )
    assert out.count() == len({r["receipt_id"] for r in rows})


def test_streaming_source_resumes_from_checkpoint(spark, tmp_path):
    """readStream over the custom source: the committed offset (a
    per-file consumed-record map) survives a query restart -- the
    second run emits ONLY records appended after the first run, the
    exactly-once-offsets contract of the Kafka analog."""
    import json as _json

    path, rows = _stage_logs(spark, tmp_path, n_files=1)
    spark.dataSource.register(ConfluentAvroDataSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "stream_out")

    def run_once():
        q = (
            spark.readStream.format("confluentavro")
            .schema(RECEIPTS_SCHEMA)
            .option("path", path)
            .option(
                "avro_schema",
                _json.dumps(avro_value_schema("receipts")),
            )
            .load()
            .select("receipt_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == len(rows)

    # append a new immutable segment, restart from the checkpoint
    codec = AvroCodec(avro_value_schema("receipts"))
    extra = dict(rows[0])
    extra["receipt_id"] = "rx-appended"
    write_framed_log(
        [confluent_frame(7, codec.encode(extra))],
        path + "/part-99999.bin",
    )
    run_once()
    after = spark.read.parquet(out)
    assert after.count() == first + 1
    assert (
        after.where("receipt_id = 'rx-appended'").count() == 1
    )


def _stage_segments(spark, tmp_path, n_files, per_file=5):
    """n_files small segments of ``per_file`` receipts each, with
    distinct receipt ids (the live feed's shape)."""
    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    base = r.first().asDict()
    codec = AvroCodec(avro_value_schema("receipts"))
    d = tmp_path / "segments"
    ids = []
    for i in range(n_files):
        framed = []
        for k in range(per_file):
            row = dict(base, receipt_id=f"rx-{i}-{k}")
            framed.append(confluent_frame(7, codec.encode(row)))
            ids.append(row["receipt_id"])
        write_framed_log(framed, str(d / f"seg-{i:05d}.bin"))
    return str(d), ids


def _stream_reader(path):
    from nearscan_kafka_streams_spark.sources.pyds import (
        ConfluentAvroStreamReader,
    )

    return ConfluentAvroStreamReader(
        RECEIPTS_SCHEMA,
        {"path": path, "avro_schema": json.dumps(avro_value_schema("receipts"))},
    )


def test_stream_partitions_pack_small_segments(spark, tmp_path):
    """Many small segments share a few InputPartitions; every segment's
    new range appears exactly once and whole, in file order."""
    path, ids = _stage_segments(spark, tmp_path, n_files=12)
    reader = _stream_reader(path)
    end = reader.latestOffset()
    parts = reader.partitions(reader.initialOffset(), end)
    assert len(parts) < 12
    ranges = [r for p in parts for r in p.ranges]
    assert [(os.path.basename(f), a, b) for f, a, b in ranges] == [
        (f, 0, n) for f, n in sorted(end["consumed"].items())
    ]
    assert sum(b - a for _, a, b in ranges) == len(ids)

    # a later offset plans only the unread tail of each segment
    half = {f: n // 2 for f, n in end["consumed"].items()}
    tail = [r for p in reader.partitions({"consumed": half}, end)
            for r in p.ranges]
    assert [(os.path.basename(f), a) for f, a, _ in tail] == [
        (f, half[f]) for f in sorted(end["consumed"]) if half[f] < end["consumed"][f]
    ]


def test_pack_ranges_never_splits_and_isolates_large_ranges():
    from nearscan_kafka_streams_spark.sources.pyds import pack_ranges

    ranges = [("a", 0, 3), ("b", 0, 4), ("c", 5, 30), ("d", 0, 2),
              ("e", 0, 9), ("f", 0, 1)]
    parts = pack_ranges(ranges, budget=10)
    assert [p.ranges for p in parts] == [
        [("a", 0, 3), ("b", 0, 4)],
        [("c", 5, 30)],  # over budget: alone, not split
        [("d", 0, 2)],
        [("e", 0, 9), ("f", 0, 1)],
    ]
    assert pack_ranges([]) == []


def test_stream_over_packed_segments_yields_staged_rows(spark, tmp_path):
    path, ids = _stage_segments(spark, tmp_path, n_files=12)
    spark.dataSource.register(ConfluentAvroDataSource)
    out = str(tmp_path / "stream_out")
    q = (
        spark.readStream.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", path)
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
        .select("receipt_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["receipt_id"] for r in spark.read.parquet(out).collect())
    assert got == sorted(ids)


def test_write_leg_round_trips(spark, tmp_path):
    """df.write.format('confluentavro') -> read back with the same
    format: the engine-native SINK leg (S3's wire serialization)
    through the 2-phase staged-segment commit."""
    import json as _json

    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    spark.dataSource.register(ConfluentAvroDataSource)
    d = str(tmp_path / "written")
    import os as _os

    _os.makedirs(d, exist_ok=True)
    (
        r.repartition(3)
        .write.format("confluentavro")
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .option("schema_id", "42")
        .mode("append")
        .save()
    )
    files = [f for f in _os.listdir(d) if f.startswith("part-")]
    assert len(files) == 3
    assert not any(f.startswith("_staged-") for f in _os.listdir(d))

    back = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .load()
    )
    assert sorted(x["receipt_id"] for x in back.collect()) == sorted(
        x["receipt_id"] for x in r.collect()
    )


def test_write_leg_append_twice_keeps_both_commits(spark, tmp_path):
    """mode('append') into a directory that already has committed
    segments must not collide with (and overwrite) them: committed
    names carry a per-commit id, so both writes' records survive."""
    import json as _json
    import os as _os

    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    spark.dataSource.register(ConfluentAvroDataSource)
    d = str(tmp_path / "appended")
    _os.makedirs(d, exist_ok=True)

    def wr(df):
        (
            df.repartition(2)
            .write.format("confluentavro")
            .option("path", d)
            .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
            .mode("append")
            .save()
        )

    wr(r)
    wr(r)  # second commit: same partition count, same would-be names
    files = [f for f in _os.listdir(d) if f.startswith("part-")]
    assert len(files) == 4, files

    back = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .load()
    )
    assert back.count() == 2 * r.count()


def test_write_leg_overwrite_replaces_prior_commit(spark, tmp_path):
    """mode('overwrite'): superseded segments are removed only AFTER
    the new ones are in place, and the surviving contents equal exactly
    the new commit."""
    import json as _json
    import os as _os

    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    spark.dataSource.register(ConfluentAvroDataSource)
    d = str(tmp_path / "overwritten")
    _os.makedirs(d, exist_ok=True)

    def wr(df, mode):
        (
            df.repartition(2)
            .write.format("confluentavro")
            .option("path", d)
            .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
            .mode(mode)
            .save()
        )

    wr(r, "append")
    subset = r.limit(2)
    wr(subset, "overwrite")
    back = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .load()
    )
    assert back.count() == 2
