"""Eviction-mode streaming tests: update/append output modes over
time-ordered micro-batches must actually BOUND state (the reference's
reason to exist, README.md:11-13) — asserted on the state-store metrics
(numRowsTotal / numRowsRemoved), the PySpark face of StateStore.metrics
(Provider.scala:282-283). Complete-mode twins retain every window; these
must not."""

from pyspark.sql import functions as F

import pytest

_TRACK = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"


@pytest.fixture(autouse=True)
def _row_count_metrics(spark):
    """These tests assert on numRowsTotal/numRowsRemoved, which the
    engine's timed paths disable for commit speed (session.py note,
    r14/r15): opt the counters back in for the duration of each test here.
    conf.get default: the conf may be unset in a library session (r15
    re-scope); Spark's own default is true."""
    saved = spark.conf.get(_TRACK, "true")
    spark.conf.set(_TRACK, "true")
    yield
    spark.conf.set(_TRACK, saved)


from spark_states_spark.sources import chunked_stream
from spark_states_spark.streaming.runner import run_stream_to_table
from spark_states_spark.streaming.windows import windowed_counts


def _state_series(progress):
    """(numRowsTotal per batch, total numRowsRemoved) for the first
    stateful operator across a query's recentProgress."""
    totals, removed = [], 0
    for p in progress:
        ops = p["stateOperators"]
        if ops:
            totals.append(ops[0]["numRowsTotal"])
            removed += ops[0]["numRowsRemoved"]
    return totals, removed


def test_update_mode_tumbling_evicts_state(spark, sf_dir):
    """Update-mode tumbling agg: watermark evicts closed windows each batch;
    every window key is evicted exactly once or still live at the end, and
    the state never holds more than a fraction of all windows at once."""
    agg = windowed_counts(chunked_stream(spark, sf_dir, "events"), "1 hour")
    out, progress = run_stream_to_table(agg, "update", with_progress=True)
    totals, removed = _state_series(progress)
    n_windows = out.select("window_start", "event_type").distinct().count()
    assert removed > 0, "watermark never evicted any window state"
    # State plateaus: the peak is far below the total window count (complete
    # mode would reach n_windows). 8 time-ordered chunks over ~30 days of
    # events → live state ≈ one chunk's windows + the 10-min watermark lag.
    assert max(totals) < n_windows / 2, (totals, n_windows)
    # Conservation: evicted + still-live == every window ever created.
    assert removed + totals[-1] == n_windows, (removed, totals, n_windows)


def test_append_mode_session_evicts_and_emits_once(spark, sf_dir):
    """Append-mode session windows: a session is emitted exactly once when
    the watermark passes its end, and its state is evicted."""
    events = chunked_stream(spark, sf_dir, "events")
    sess = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("session_start_s"),
            "n_events",
        )
    )
    out, progress = run_stream_to_table(sess, "append", with_progress=True)
    totals, removed = _state_series(progress)
    assert removed > 0, "watermark never closed any session"
    # Emitted exactly once: (user, start) pairs are unique in the sink.
    n = out.count()
    assert out.select("user_id", "session_start_s").distinct().count() == n
    # Sessions emitted == sessions evicted from state (append emits exactly
    # the evicted set; the final batch's live rows are the still-open tail).
    assert n == removed, (n, removed)


def test_dedup_within_watermark_state_plateaus(spark, sf_dir):
    """dropDuplicatesWithinWatermark: the seen-set stops growing — keys are
    dropped once the watermark passes first-seen + 25 h, so peak state is a
    small fraction of all distinct keys over the 30-day stream."""
    events = chunked_stream(spark, sf_dir, "events")
    keyed = events.select(
        "event_type", "user_id", "ts", F.to_date("ts").alias("day")
    )
    dd = keyed.withWatermark("ts", "25 hours").dropDuplicatesWithinWatermark(
        ["event_type", "user_id", "day"]
    )
    out, progress = run_stream_to_table(dd, "append", with_progress=True)
    totals, removed = _state_series(progress)
    n_keys = out.count()  # one emission per distinct key (determinism arg
    # in streaming_dedup_within_watermark's docstring)
    assert removed > 0, "seen-set never evicted"
    assert max(totals) < n_keys * 0.6, (max(totals), n_keys)
    assert removed + totals[-1] == n_keys, (removed, totals, n_keys)


def test_stream_static_enrich_keeps_no_state(spark, sf_dir):
    """A stream-static join must run STATELESS — the static side is
    re-planned into each micro-batch, never buffered in the state store.
    This is the property that lets enrichment compose with downstream
    stateful operators without growing the store."""
    from spark_states_spark.sources import load_table, read_stream

    ev = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "value")
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    out, progress = run_stream_to_table(
        ev.join(dim, "user_id"), "append", with_progress=True
    )
    assert out.count() > 0
    for p in progress:
        assert not p["stateOperators"], (
            f"stream-static join created state: {p['stateOperators']}"
        )


def test_late_rows_reopen_windows_update_mode(spark, sf_dir_small, tmp_path):
    """Late-data contract, pinned EMPIRICALLY for this Spark build: an
    update-mode aggregation does NOT drop input rows behind the watermark
    — the watermark only drives state EVICTION, and late rows silently
    re-create their (already-evicted) windows with partial counts
    (verified on a vanilla session too: numRowsDroppedByWatermark stays 0
    while the late windows appear in the sink).

    This is exactly why the engine's chunked_stream delivers micro-batches
    in event-time order: with in-order arrival no row is ever late, so no
    evicted window can be re-opened with a partial count and the drained
    update stream equals the batch GROUP BY the oracles check. A pipeline
    with genuinely late sources must reconcile re-emitted windows
    downstream (the merge_incremental_snapshot pattern) rather than assume
    the aggregation filters them.

    Staged arrival order is deliberately inverted to force the worst case:
    batch 1 delivers the NEWER half of events (advancing the watermark
    deep into the timeline), batch 2 the OLDER half — days late."""
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from spark_states_spark.sources import with_event_time
    from spark_states_spark.sources.tables import table_path

    t = pq.read_table(table_path(sf_dir_small, "events"))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    half = t.num_rows // 2
    d = tmp_path / "late_stream"
    d.mkdir()
    now = time.time()
    # Older mtime => delivered first: the NEW half arrives in batch 1.
    pq.write_table(t.slice(half), str(d / "new-half.parquet"))
    pq.write_table(t.slice(0, half), str(d / "old-half.parquet"))
    import os

    os.utime(d / "new-half.parquet", (now, now))
    os.utime(d / "old-half.parquet", (now + 1, now + 1))

    schema = spark.read.parquet(str(d)).schema
    stream = with_event_time(
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(d))
    )
    agg = windowed_counts(stream, "1 hour")
    out, progress = run_stream_to_table(
        agg, output_mode="update", with_progress=True
    )
    # The watermark DID advance deep into the timeline before batch 2...
    wm_for_late_batch = [
        p["eventTime"].get("watermark")
        for p in progress
        if p["numInputRows"] > 0
    ][-1]
    assert wm_for_late_batch and wm_for_late_batch.startswith("2024-01-30"), (
        f"watermark did not advance before the late batch: {wm_for_late_batch}"
    )
    # ...yet nothing was dropped, and the late (old-half) windows were
    # re-created and emitted: watermark == eviction, not admission control.
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in progress
        if p["stateOperators"]
    )
    assert dropped == 0, f"this Spark build unexpectedly dropped {dropped} late rows"
    cutoff = (
        with_event_time(spark.read.parquet(str(d / "new-half.parquet")))
        .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss"))
        .collect()[0][0]
    )
    late_windows = out.filter(F.col("window_start") < cutoff).count()
    assert late_windows > 0, "late rows should have re-opened their windows"


def test_chained_agg_runs_two_stateful_operators(spark, sf_dir):
    """The hour->day rollup cascade (streaming_chained_agg_daily) must plan
    TWO stateful operators in one query — the multi-operator provider case
    (one operatorId/partitionId store set per stateful operator,
    Provider.scala:347-360) — and BOTH must bound their state: each stage
    holds live windows and evicts them as the shared watermark advances.
    Guards the structure the entry exists to exercise; a refactor that
    collapsed the chain into one aggregation (or detached the second stage
    from the watermark) would still pass the value oracle on this fixture
    but silently stop exercising multi-store state."""
    ev = chunked_stream(spark, sf_dir, "events", n_chunks=4)
    hourly = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("window"), "1 day"), "event_type")
        .agg(F.sum("n_events").alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
        )
    )
    out, progress = run_stream_to_table(daily, "append", with_progress=True)
    assert out.count() > 0
    per_op_removed: dict[int, int] = {}
    per_op_peak: dict[int, int] = {}
    n_ops = 0
    for p in progress:
        ops = p["stateOperators"]
        if ops:
            n_ops = max(n_ops, len(ops))
            for i, op in enumerate(ops):
                per_op_removed[i] = per_op_removed.get(i, 0) + op["numRowsRemoved"]
                per_op_peak[i] = max(per_op_peak.get(i, 0), op["numRowsTotal"])
    assert n_ops == 2, f"expected 2 stateful operators, saw {n_ops}"
    for i in range(2):
        assert per_op_peak[i] > 0, f"operator {i} never held state"
        assert per_op_removed[i] > 0, f"operator {i} never evicted state"


def test_parquet_sink_matches_memory_sink(spark, sf_dir_small):
    """Sink equivalence for the KV drains' scale path (r09): past
    _KV_SCALE_ROWS the TTL drains switch from the memory sink to a
    distributed exactly-once parquet sink (runner.scaled_sink) — the rows read back
    from the file sink must be exactly the memory sink's, so the switch can
    never change an oracle verdict at scale."""
    from spark_states_spark.config import resolve_ttl
    from spark_states_spark.streaming.queries import _kv_op_select
    from spark_states_spark.sources import chunked_stream
    from spark_states_spark.streaming.ttl import ttl_kv_ops

    ttl = resolve_ttl(
        {"spark.sql.streaming.stateStore.stateExpirySecs": "21600"}, "q"
    )
    outs = {}
    for sink in ("memory", "parquet"):
        ops = _kv_op_select(chunked_stream(spark, sf_dir_small, "events", n_chunks=2))
        out = run_stream_to_table(ttl_kv_ops(ops, ttl), "append", sink=sink)
        outs[sink] = sorted(tuple(r) for r in out.collect())
    assert outs["memory"] == outs["parquet"]
    assert len(outs["memory"]) > 0


def test_interval_join_derived_shapes_equal_solo(spark, sf_dir):
    """r14 shared full-outer interval-join drain: the derived left-outer /
    right-outer / semi entries must equal their solo-operator drains
    row-for-row (the equivalence argument on ``_interval_join_fo_drained``
    as an executable claim, same discipline as the TTL composite
    kernels)."""
    from collections import Counter

    from spark_states_spark.streaming import queries as q

    pairs = {
        "leftOuter": q.streaming_interval_join_left_outer,
        "rightOuter": q.streaming_interval_join_right_outer,
        "leftSemi": q.streaming_interval_join_left_semi,
    }
    for how, entry in pairs.items():
        solo = Counter(
            tuple(r) for r in q._interval_join_solo(spark, sf_dir, how).collect()
        )
        derived = Counter(tuple(r) for r in entry(spark, sf_dir).collect())
        assert solo == derived, (how, solo - derived, derived - solo)
