"""Streaming infrastructure tests: metrics façade, state_timeout writer
helper, RocksDB provider wiring."""

import os
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


@pytest.mark.parametrize("tuned", [4, 8, 16])
def test_state_parts_and_scaled_sink(tuned, sf_dir_small, monkeypatch):
    """One size gate sizes every drain: with no input size or at most
    _KV_SCALE_ROWS input rows, the tuned state-partition count capped at
    the core count and the memory sink; past it, at least one state
    partition per core and the distributed parquet sink. The fixtures sit
    below the gate. SPARK_GRAFT_KV_SINK overrides the sink in both
    directions, an empty value is unset, and any other value fails fast
    naming the variable."""
    from types import SimpleNamespace

    from spark_states_spark.sources.tables import parquet_row_count, table_path
    from spark_states_spark.streaming.runner import (
        _KV_SCALE_ROWS,
        STATE_PARTS,
        scaled_sink,
        state_parts,
    )

    assert STATE_PARTS == 4
    fixture_rows = parquet_row_count(table_path(sf_dir_small, "events"))
    assert 0 < fixture_rows <= _KV_SCALE_ROWS
    monkeypatch.delenv("SPARK_GRAFT_KV_SINK", raising=False)
    for cores in (2, 4, 8, 32):
        spark = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=cores)
        )
        for rows in (None, fixture_rows, _KV_SCALE_ROWS):
            assert state_parts(spark, tuned, rows) == min(tuned, cores)
        assert state_parts(spark, tuned) == min(tuned, cores)
        assert state_parts(spark, tuned, _KV_SCALE_ROWS + 1) == max(tuned, cores)
    assert scaled_sink(fixture_rows) == "memory"
    assert scaled_sink(_KV_SCALE_ROWS) == "memory"
    assert scaled_sink(_KV_SCALE_ROWS + 1) == "parquet"
    for forced in ("memory", "parquet"):
        monkeypatch.setenv("SPARK_GRAFT_KV_SINK", forced)
        assert scaled_sink(_KV_SCALE_ROWS) == forced
        assert scaled_sink(_KV_SCALE_ROWS + 1) == forced
    monkeypatch.setenv("SPARK_GRAFT_KV_SINK", "")
    assert scaled_sink(_KV_SCALE_ROWS) == "memory"
    assert scaled_sink(_KV_SCALE_ROWS + 1) == "parquet"
    for junk in ("bogus", "Parquet", "parquet "):
        monkeypatch.setenv("SPARK_GRAFT_KV_SINK", junk)
        with pytest.raises(ValueError, match="SPARK_GRAFT_KV_SINK"):
            scaled_sink(_KV_SCALE_ROWS)


def _state_partition_dirs(ckpt):
    return sorted(
        (d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()),
        key=int,
    )


def test_shuffle_partitions_pin(spark, sf_dir_small, tmp_path):
    """A drain given ``parts=3`` starts with exactly that many state
    partitions in its checkpoint (3 <= the test session's cores) and
    leaves the session's shuffle-partition count as it found it, also when
    ``start()`` raises; ``parts=None`` starts under the session's value."""
    from spark_states_spark.session import shuffle_partitions
    from spark_states_spark.streaming.runner import run_stream_to_table

    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    assert spark.sparkContext.defaultParallelism >= 3
    agg = read_stream(spark, sf_dir_small, "events").groupBy("event_type").count()

    ckpt = str(tmp_path / "pinned")
    out = run_stream_to_table(agg, checkpoint_location=ckpt, parts=3)
    assert spark.conf.get(conf) == saved != "3"
    assert out.count() > 0
    assert _state_partition_dirs(ckpt) == ["0", "1", "2"]

    # Append mode on an aggregation without a watermark: start() raises.
    with pytest.raises(Exception, match="(?i)append"):
        run_stream_to_table(agg, output_mode="append", parts=3)
    assert spark.conf.get(conf) == saved

    ckpt = str(tmp_path / "session")
    with shuffle_partitions(spark, 5):
        run_stream_to_table(agg, checkpoint_location=ckpt)
        assert spark.conf.get(conf) == "5"
    assert _state_partition_dirs(ckpt) == ["0", "1", "2", "3", "4"]


# Stateful catalog entries that had no state-partition sizing and started
# at the session's shuffle width; they now pass parts=STATE_PARTS.
_STATE_PARTS_ENTRIES = [
    "streaming_dedup",
    "streaming_doc_dedup",
    "streaming_curation_pipeline",
    "streaming_hourly_agg",
    "streaming_session_window",
    "streaming_sliding_window",
    "streaming_static_enrich",
    "streaming_global_limit",
    "streaming_minhash_band_dedup",
]


def _record_starts(monkeypatch):
    """Record (session shuffle partitions, query) at every stream start."""
    from pyspark.sql.streaming import DataStreamWriter

    real = DataStreamWriter.start
    starts = []

    def start(self, *a, **kw):
        value = self._spark.conf.get("spark.sql.shuffle.partitions")
        query = real(self, *a, **kw)
        starts.append((value, query))
        return query

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return starts


@pytest.mark.parametrize("name", _STATE_PARTS_ENTRIES)
def test_entry_starts_at_state_parts(name, spark, sf_dir_small, monkeypatch):
    """Each entry's drain starts under state_parts(spark, STATE_PARTS)
    shuffle partitions, its stateful operators run with that many state
    partitions, and the session's value is unchanged after the entry."""
    from spark_states_spark.catalog import QUERIES
    from spark_states_spark.streaming.runner import STATE_PARTS, state_parts

    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    want = state_parts(spark, STATE_PARTS)
    assert str(want) != saved
    starts = _record_starts(monkeypatch)
    assert QUERIES[name](spark, sf_dir_small).count() > 0
    assert spark.conf.get(conf) == saved
    assert [value for value, _ in starts] == [str(want)]
    ((_, query),) = starts
    ops = query.lastProgress["stateOperators"]  # none for static_enrich
    assert all(op["numShufflePartitions"] == want for op in ops), ops


def test_minhash_barrier_exchange_sized_at_state_parts(
    spark, sf_dir_small, monkeypatch, capsys
):
    """streaming_minhash_band_dedup keeps its tokenize -> shingle Exchange,
    and Spark sizes it from the query's pinned count, not the session's:
    both hash Exchanges (the doc_id barrier and the dedup's band_hash
    shuffle) have state_parts(spark, STATE_PARTS) partitions."""
    import re

    from spark_states_spark.catalog import QUERIES
    from spark_states_spark.streaming.runner import STATE_PARTS, state_parts

    starts = _record_starts(monkeypatch)
    QUERIES["streaming_minhash_band_dedup"](spark, sf_dir_small).collect()
    ((_, query),) = starts
    capsys.readouterr()
    query.explain()
    plan = capsys.readouterr().out
    exchanges = dict(
        re.findall(r"Exchange hashpartitioning\((\w+)#\d+L?, (\d+)\)", plan)
    )
    want = str(state_parts(spark, STATE_PARTS))
    assert exchanges == {"doc_id": want, "band_hash": want}, plan
