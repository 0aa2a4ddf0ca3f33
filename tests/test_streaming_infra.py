"""Streaming infrastructure tests: metrics façade, state_timeout writer
helper, RocksDB provider wiring."""

import uuid

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_states_spark.config import STATE_EXPIRY_SECS, UNNAMED_QUERY
from spark_states_spark.sources import read_stream
from spark_states_spark.streaming.metrics import (
    estimate_state_memory,
    state_metrics,
)
from spark_states_spark.streaming.writer import state_timeout


def test_rocksdb_provider_is_active(spark):
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


def test_state_metrics_from_streaming_agg(spark, sf_dir_small, tmp_path):
    """lastProgress exposes state rows/memory for a stateful query —
    the engine's answer to StateStore.metrics (Provider.scala:282-283)."""
    # num_rows_total needs the row-count tracking the engine's timed paths
    # turn off for commit speed (session.py note, r14/r15) — opt in
    # explicitly. conf.get default: the conf may be UNSET in a library
    # session (r15 re-scope), and Spark's own default is true.
    track = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    saved_track = spark.conf.get(track, "true")
    spark.conf.set(track, "true")
    try:
        events = read_stream(spark, sf_dir_small, "events")
        agg = events.groupBy("event_type").count()
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(f"m_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ms = state_metrics(q)
    finally:
        spark.conf.set(track, saved_track)
    assert ms, "no state operators reported"
    assert ms[0].num_rows_total > 0
    assert ms[0].memory_used_bytes > 0


def test_estimate_state_memory_matches_reference_formula():
    key = T.StructType([T.StructField("key", T.StringType())])
    val = T.StructType([T.StructField("value", T.IntegerType())])
    # string defaultSize=20, int defaultSize=4 → 24/key (reference formula)
    assert estimate_state_memory(key, val, 10) == 240


def test_state_timeout_writer_contract(spark, sf_dir_small, tmp_path):
    """state_timeout resolves name/checkpoint, records the per-query TTL
    conf, and rewrites the writer (implicits.scala:40-80 contract)."""
    events = read_stream(spark, sf_dir_small, "events")
    agg = events.groupBy("user_id").count()
    writer = agg.writeStream.outputMode("complete").format("memory")
    writer = state_timeout(
        writer,
        spark.conf,
        query_name="ttl_query_x",
        expiry_secs=300,
        checkpoint_location=str(tmp_path),
    )
    assert spark.conf.get(f"{STATE_EXPIRY_SECS}.ttl_query_x") == "300"
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    assert q.name == "ttl_query_x"
    assert spark.table("ttl_query_x").count() > 0
    # negative TTLs are coerced to -1 (implicits.scala:66)
    w2 = agg.writeStream.format("memory")
    state_timeout(w2, spark.conf, "neg_q", -42, str(tmp_path))
    assert spark.conf.get(f"{STATE_EXPIRY_SECS}.neg_q") == "-1"


def test_state_timeout_requires_checkpoint(spark, sf_dir_small):
    events = read_stream(spark, sf_dir_small, "events")
    writer = events.writeStream.format("memory")
    had = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    assert had is None
    with pytest.raises(ValueError, match="[Cc]heckpoint"):
        state_timeout(writer, spark.conf, "q", 10, None)


def test_unnamed_query_fallback(spark, sf_dir_small, tmp_path):
    events = read_stream(spark, sf_dir_small, "events")
    writer = events.select("event_id").writeStream.format("memory")
    state_timeout(writer, spark.conf, None, 60, str(tmp_path / "u"))
    assert spark.conf.get(f"{STATE_EXPIRY_SECS}.{UNNAMED_QUERY}") == "60"


def test_state_provider_unload_between_drains(spark, sf_dir_small, tmp_path):
    """harness.py resets each bench/scalecheck/scaleprobe measurement to a
    clean provider slate via Spark's session-shutdown hook
    (StateStore.stop). Pin two things: (a) the internal JVM path the helper depends on — the helper
    itself swallows errors by design, so a Spark upgrade that moves the
    class would silently degrade the harness back to accumulate-mode; this
    call fails loudly instead — and (b) behavior-neutrality: a stateful
    drain AFTER an unload re-loads providers lazily and produces the same
    result as the drain before it."""
    from harness import unload_state_providers

    def drain(ckpt: str) -> dict:
        events = read_stream(spark, sf_dir_small, "events")
        name = f"u_{uuid.uuid4().hex[:8]}"
        q = (
            events.groupBy("event_type")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.event_type: r["count"] for r in spark.table(name).collect()}

    before = drain(str(tmp_path / "ckpt1"))
    assert before, "first drain produced no rows"
    # (a) the exact JVM path, NOT the swallowing helper:
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    unload_state_providers(spark)  # helper itself also runs clean
    # (b) providers re-load on demand; results identical:
    assert drain(str(tmp_path / "ckpt2")) == before


def test_kv_scale_knobs_thresholds(spark):
    """The TTL drains' deployment knobs switch together at _KV_SCALE_ROWS
    (r09, VERDICT r08 #3): fixture scale keeps the measured optimum
    (16 parts, memory sink); past it, one state partition per core and the
    distributed parquet sink."""
    from spark_states_spark.streaming.queries import (
        _KV_SCALE_ROWS,
        _kv_sink,
        _kv_state_parts,
    )

    assert _kv_state_parts(spark, 100_000) == 16
    assert _kv_sink(100_000) == "memory"
    assert _kv_state_parts(spark, _KV_SCALE_ROWS) == 16
    assert _kv_sink(_KV_SCALE_ROWS) == "memory"
    big = _kv_state_parts(spark, _KV_SCALE_ROWS + 1)
    assert big >= 16
    assert big == max(16, spark.sparkContext.defaultParallelism)
    assert _kv_sink(_KV_SCALE_ROWS + 1) == "parquet"
