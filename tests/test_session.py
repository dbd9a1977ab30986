"""Streaming settings that ``get_spark`` applies."""

from __future__ import annotations

CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def test_local_master_uses_filesystem_checkpoint_manager(spark):
    assert spark.sparkContext.master.startswith("local")
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_rocksdb_changelog_checkpointing_on(spark):
    assert spark.conf.get(CHANGELOG_KEY) == "true"


def test_snapshot_checkpoint_resumes_under_changelog(spark, tmp_path):
    """A stateful query checkpointed with RocksDB snapshot uploads only
    (how every checkpoint written before changelog checkpointing looks)
    resumes with changelog checkpointing on and keeps its state."""
    import json

    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    latest: dict[str, int] = {}

    def collect(df, _batch_id):
        latest.update({r["k"]: r["count"] for r in df.collect()})

    def run(enabled: str) -> None:
        spark.conf.set(CHANGELOG_KEY, enabled)
        q = (
            spark.readStream.schema("k string").json(str(src))
            .groupBy("k").count()
            .writeStream.outputMode("update").foreachBatch(collect)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    kept = spark.conf.get(CHANGELOG_KEY, None)
    try:
        (src / "a.json").write_text(
            "\n".join(json.dumps({"k": k}) for k in "xxy"))
        run("false")
        assert list((ckpt / "state").rglob("*.zip"))
        assert not list((ckpt / "state").rglob("*.changelog"))
        (src / "b.json").write_text(json.dumps({"k": "x"}))
        run("true")
    finally:
        if kept is None:
            spark.conf.unset(CHANGELOG_KEY)
        else:
            spark.conf.set(CHANGELOG_KEY, kept)
    assert latest == {"x": 3, "y": 1}
    assert list((ckpt / "state").rglob("*.changelog"))
