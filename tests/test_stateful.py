"""applyInPandasWithState operator: state evolves across micro-batches
and survives a checkpointed restart."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hedera_etl_spark.streaming.stateful import user_activity_stream

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
    ]
)


def run_stream(spark, input_dir, ckpt, out_dir):
    """foreachBatch parquet sink: supports checkpoint recovery (the
    memory sink does not)."""
    stream = spark.readStream.schema(SCHEMA).parquet(str(input_dir))

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            str(out_dir)
        )

    q = (
        user_activity_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snaps = spark.read.parquet(str(out_dir))
    # latest snapshot per user = the one from the highest batch
    latest = snaps.groupBy("user_id").agg(
        F.max_by("n_events", "batch_id").alias("n_events"),
        F.max_by("last_us", "batch_id").alias("last_us"),
        F.max("batch_id").alias("last_batch"),
    )
    return latest


@pytest.mark.slow
def test_state_accumulates_across_restarts(spark, tmp_path):
    input_dir = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    out_dir = tmp_path / "out"
    rows1 = [(1, 100), (1, 200), (2, 50)]
    spark.createDataFrame(rows1, SCHEMA).write.mode("append").parquet(str(input_dir))
    out1 = run_stream(spark, input_dir, ckpt, out_dir)
    snap1 = {r["user_id"]: (r["n_events"], r["last_us"]) for r in out1.collect()}
    assert snap1 == {1: (2, 200), 2: (1, 50)}

    # second run, same checkpoint: state picks up where it left off
    rows2 = [(1, 500), (3, 10)]
    spark.createDataFrame(rows2, SCHEMA).write.mode("append").parquet(str(input_dir))
    out2 = run_stream(spark, input_dir, ckpt, out_dir)
    rows = {r["user_id"]: r for r in out2.collect()}
    assert (rows[1]["n_events"], rows[1]["last_us"]) == (3, 500)  # 2 prior + 1 new
    assert (rows[3]["n_events"], rows[3]["last_us"]) == (1, 10)
    # untouched key did NOT re-emit in the second run (update mode):
    # its latest snapshot is still from an earlier batch
    assert rows[2]["last_batch"] < rows[1]["last_batch"]
    assert (rows[2]["n_events"], rows[2]["last_us"]) == (1, 50)


# ---------------------------------------------------------------------------
# multimodal: resize + audio-chunk features (decode stubs, real plumbing)
# ---------------------------------------------------------------------------
def test_resize_images_stub_shapes_and_determinism(spark):
    import pytest as _pytest

    from hedera_etl_spark.operators.multimodal import resize_images, with_payload

    docs = spark.createDataFrame(
        [(1, "hello world " * 10), (2, "tiny")], ["doc_id", "text"]
    )
    out = resize_images(with_payload(docs), target=(64, 64)).collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    for r in out:
        assert (r["out_width"], r["out_height"]) == (64, 64)
        assert r["n_bytes_out"] == (64 * 64) // 16 == len(r["resized"])
    # deterministic: same payload -> same bytes
    again = {r["doc_id"]: bytes(r["resized"]) for r in
             resize_images(with_payload(docs), target=(64, 64)).collect()}
    assert {r["doc_id"]: bytes(r["resized"]) for r in out} == again
    with _pytest.raises(Exception):
        resize_images(with_payload(docs), real_decode=True).collect()


def test_audio_chunk_features_jvm_side(spark):
    from hedera_etl_spark.operators.multimodal import (
        audio_chunk_features,
        with_payload,
    )

    docs = spark.createDataFrame([(1, "x" * 1000), (2, "abc")], ["doc_id", "text"])
    out = audio_chunk_features(with_payload(docs), chunk_bytes=400)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 3  # 1000 bytes / 400 -> 3 chunks
    assert len(by_doc[2]) == 1
    # byte-exact features: 'x' == 120
    c0 = next(r for r in by_doc[1] if r["chunk_idx"] == 0)
    assert c0["n_bytes"] == 400 and c0["energy"] == 120 * 400 and c0["peak"] == 120
    last = next(r for r in by_doc[1] if r["chunk_idx"] == 2)
    assert last["n_bytes"] == 200
    # no Python in the plan: pure JVM built-ins
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" not in plan and "PythonUDF" not in plan


def test_audio_features_empty_payload(spark):
    """sequence(1,0) descends in Spark: an empty payload must yield one
    zero-energy chunk row, not NULLs."""
    from hedera_etl_spark.operators.multimodal import (
        audio_chunk_features,
        with_payload,
    )

    docs = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    rows = audio_chunk_features(with_payload(docs), chunk_bytes=100).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_bytes"] == 0 and r["energy"] == 0 and r["peak"] == 0
