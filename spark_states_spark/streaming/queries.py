"""Streaming stateful queries exposed through the catalog.

Each runs a real Structured Streaming query (file micro-batches → stateful
operator on the RocksDB state store → the runner's keyed sink, drained via
Trigger.AvailableNow) and returns the batch result. Where streaming
semantics coincide with a batch equivalent (complete-mode aggregation,
inner stream-stream join over a fully-drained bounded input), a DuckDB
oracle verifies the *values*, making these CONFIRMED rather than
rows-only checks.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SHARED_MEMOS, register
from ..config import STATE_EXPIRY_SECS, STATE_STRICT_EXPIRE, resolve_ttl
from ..functions.hashes import DUCK_TOKS, SPARK_TOKS, duck_minhash_cte
from ..lifetime import release, shared
from ..sources import load_table, read_stream
from ..sources.tables import fixture_key, parquet_row_count, table_path
from .runner import STATE_PARTS, run_stream_to_table
from .ttl import ttl_kv_ops, ttl_kv_ops_wallclock
from .windows import streaming_hourly_agg


# ONE hourly GROUP BY oracle shared by the complete-mode harness and the
# update-mode production recipe — an edit cannot silently fork their
# contracts.
_HOURLY_ORACLE = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """


@register("streaming_hourly_agg", oracle=_HOURLY_ORACLE)
def streaming_hourly_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: streaming tumbling-window aggregation, complete mode.

    Complete-mode final state == batch GROUP BY over the drained input, so
    the DuckDB oracle checks real streaming-state results.
    """
    return streaming_hourly_agg(spark, sf_dir)


@register(
    "streaming_dedup",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique_users
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    GROUP BY event_type
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates — the reference's dedup-over-state use case.

    State = seen (event_type, user_id) pairs in RocksDB
    (SURVEY.md §2.3 'Streaming dedup'). Result re-aggregated per type.
    """
    events = read_stream(spark, sf_dir, "events")
    deduped = events.select("event_type", "user_id").dropDuplicates(
        ["event_type", "user_id"]
    )
    out = run_stream_to_table(deduped, output_mode="append", parts=STATE_PARTS)
    return out.groupBy("event_type").agg(F.count("*").alias("n_unique_users"))


@register(
    "streaming_doc_dedup",
    oracle="""
    SELECT DISTINCT md5(text) AS fingerprint, min(doc_id) AS keeper_doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def streaming_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of exact content dedup (functions/dedup.py): the
    document stream dedups on its md5 fingerprint, state = seen digests in
    RocksDB. This is precisely the reference's motivating workload — an
    ever-growing seen-key set that the in-memory default provider OOMs on
    (README.md:11-13) and its TTL bounds (stateExpirySecs = retention of
    the seen-set). Keeper id is re-derived per fingerprint so the output
    is deterministic regardless of file-source arrival order.
    """
    docs = read_stream(spark, sf_dir, "documents")
    dd = docs.select(F.md5("text").alias("fingerprint"), "doc_id").dropDuplicates(
        ["fingerprint"]
    )
    out = run_stream_to_table(dd, output_mode="append", parts=STATE_PARTS)
    # Arrival order decides which doc_id survives dropDuplicates; join back
    # to the digest's min doc_id for an order-independent result.
    return (
        out.select("fingerprint")
        .join(
            load_table(spark, sf_dir, "documents").select(
                F.md5("text").alias("fingerprint"), "doc_id"
            ),
            "fingerprint",
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )


@register(
    "streaming_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             epoch_ns(ts) // 1000 AS ts_us,
             lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id
                                             ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(min(ts_us) // 1000000 AS BIGINT) AS session_start_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) — ``F.session_window``.

    Complete mode (update is unsupported for merging session state): the
    final state holds every merged session, equal to batch gap-based
    sessionization (the oracle replays the merge rule on epoch-µs values —
    Spark's exact timestamp resolution).
    """
    events = read_stream(spark, sf_dir, "events")
    sess = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("session_start_s"),
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_table(sess, output_mode="complete", parts=STATE_PARTS)


@register(
    "streaming_sliding_window",
    oracle="""
    WITH expanded AS (
      SELECT e.event_type,
             make_timestamp(((epoch_ns(ts) // 1000 // 1800000000) * 1800
                             - off.o * 1800) * 1000000) AS wstart,
             e.value
      FROM events e, (SELECT unnest([0, 1]) AS o) off
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM expanded
    GROUP BY 1, 2
    """,
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h window, 30 min slide): each event lands in two
    overlapping windows; state holds both (SURVEY.md §2.3 'sliding').

    The oracle materializes the same two buckets per event via unnest.
    """
    events = read_stream(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )
    return run_stream_to_table(agg, output_mode="complete", parts=STATE_PARTS)


@register("streaming_hourly_agg_update", oracle=_HOURLY_ORACLE)
def streaming_hourly_agg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production recipe for the tumbling-window aggregation: UPDATE output
    mode over time-ordered micro-batches (``chunked_stream``), so the
    declared watermark actually evicts closed windows from the RocksDB
    store — state stays bounded, the reference's reason to exist
    (README.md:11-13) — unlike the complete-mode oracle harness
    (``streaming_hourly_agg``) which retains and re-emits every window.

    The sink accumulates one row per (window, type) per batch it
    changed in; a window's count grows strictly across its updates, so the
    final state of every window = its max-by-n_events row — which is what
    the batch GROUP BY oracle checks. In-order chunk arrival means no event
    is ever late, so no update is lost to eviction.
    """
    from ..sources import chunked_stream
    from .windows import windowed_counts

    agg = windowed_counts(chunked_stream(spark, sf_dir, "events"), "1 hour")
    out = run_stream_to_table(agg, output_mode="update", parts=STATE_PARTS)
    return (
        out.groupBy("window_start", "event_type")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("fin"))
        .select(
            "window_start",
            "event_type",
            F.col("fin.n_events").alias("n_events"),
            F.col("fin.sum_value").alias("sum_value"),
        )
    )


@register(
    "streaming_late_arrival_merge",
    # The oracle needs NO chunk arithmetic: if this Spark build dropped
    # late rows, every middle-third event would vanish from the counts and
    # the hash would miss by a third of the corpus. The only frontier is
    # the final watermark (floor-ms global max − the 10-min delay,
    # inclusive ≤ — the empirically pinned eviction predicate, see
    # streaming_session_window_append): windows ending past it are never
    # finalized, everything else must carry its FULL batch count.
    oracle="""
    WITH wm AS (
      SELECT ((max(epoch_ns(ts)) // 1000000) - 600000) * 1000 AS wm_us
      FROM events
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           CAST(0 AS BIGINT) AS n_rows_dropped_by_watermark
    FROM events, wm
    WHERE epoch_ns(date_trunc('hour', ts)) // 1000 + 3600000000 <= wm_us
    GROUP BY 1, 2
    """,
)
def streaming_late_arrival_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-DATA CONTRACT, value-checked end-to-end: on this Spark build the
    watermark is an EVICTION frontier, not admission control — an append-mode
    aggregation admits arbitrarily late rows, merging them into live state or
    re-opening their windows, and ``numRowsDroppedByWatermark`` stays 0
    (pinned batch-locally in ``tests/test_streaming_modes.py::
    test_late_rows_reopen_windows_update_mode``; this entry upgrades the pin
    to an external value check).

    Replay: three time-contiguous chunks delivered out of order — oldest,
    NEWEST, then middle — so every middle-third event arrives behind a
    watermark already advanced to the end of the timeline. The drained sink
    must still hold the middle third's full counts.

    Emission is exactly-once BY CONSTRUCTION under this permutation, so the
    oracle is a plain GROUP BY: the watermark during batch N is computed
    from batches < N, hence (a) when the newest chunk arrives the watermark
    still trails the oldest chunk's max, so no chunk-0 window is finalized
    before the middle third can merge into it, and (b) the middle batch runs
    before its own arrival moves the watermark (it cannot — the global max
    already arrived), so its re-opened windows finalize exactly once at the
    drain. Windows ending inside the last 10 minutes of event time are never
    finalized and must be absent.

    The reference's store serves exactly this lifecycle: keys put/merged
    across commits and removed at eviction (Provider.scala:152-175); a
    pipeline with genuinely late sources reconciles re-emitted partials
    downstream instead of assuming the engine filters them (the
    merge_incremental_snapshot pattern).

    100 TB shape: the stateful aggregation shuffles once on (window, type);
    the metric column is a per-query scalar from the progress API, not a
    data-path reduction. Harness staging is fixture-only (chunked_stream).
    """
    from ..sources import chunked_stream
    from .windows import windowed_counts

    ev = chunked_stream(spark, sf_dir, "events", n_chunks=3, arrival_order=(0, 2, 1))
    out, progress = run_stream_to_table(
        windowed_counts(ev, "1 hour"), output_mode="append",
        with_progress=True, parts=STATE_PARTS,
    )
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    return out.withColumn(
        "n_rows_dropped_by_watermark", F.lit(dropped).cast("long")
    )


@register(
    "streaming_restart_recovery",
    # The oracle is the batch GROUP BY restricted to the final-watermark
    # frontier (windows ending past floor-ms(max ts) − 10 min are never
    # finalized): it can only match if the second run (a) restores the
    # first run's RocksDB state — otherwise every window straddling the
    # stop point re-counts from zero and emits a partial count — and
    # (b) skips the already-committed chunks — otherwise the restored
    # windows double-count. Loss and replay both move counts, so both fail
    # the value hash.
    oracle="""
    WITH wm AS (
      SELECT ((max(epoch_ns(ts)) // 1000000) - 600000) * 1000 AS wm_us
      FROM events
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events, wm
    WHERE epoch_ns(date_trunc('hour', ts)) // 1000 + 3600000000 <= wm_us
    GROUP BY 1, 2
    """,
)
def streaming_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOP-AND-RESUME across a checkpoint, externally value-checked — the
    reference's versioned commit/recovery lifecycle end-to-end
    (``StateStore.commit`` one version per batch, Provider.scala:198-217;
    ``Provider.getStore(version)`` reload on restart, :384-401; maintenance
    respecting retained versions, :411-418).

    Harness: the events fixture staged as 4 time-ordered chunk files. A
    first append-mode hourly aggregation drains chunks 0-1 through the
    runner (availableNow) and stops; the remaining 2 chunks are then added
    to the source dir and a SECOND drain starts on the SAME checkpoint —
    replaying the offset log, reloading the committed RocksDB version
    (changelog checkpointing on), restoring the watermark, and draining
    only the new files. The result is the first drain's output unioned
    with the second's: the runner's keyed sink holds exactly the batches
    committed on its checkpoint, so each finalized window appears once.

    Determinism: in-order chunk arrival means nothing is ever late, and any
    window spanning the stop point cannot have been evicted before the stop
    (its end exceeds the final run-1 watermark by more than the 10-min
    delay), so it is exactly the state the restart must carry.

    100 TB shape: restart cost is the state reload (bounded by live state,
    not input history) plus the new files — the whole point of checkpointed
    state at scale. The file copies are fixture staging only.

    Phase-1 share: the first drain is a pure function of (session,
    fixture), so it is paid once per (applicationId, fixture generation)
    under the lifetime tag ``restart_phase1``, whose memo is the run dir
    (``src/``, ``ckpt/`` and the post-stop snapshot ``snap_ckpt/``) and the
    phase-1 frame. Later invocations restore the snapshot into the same
    absolute path (the file source's seen-files log records absolute
    paths, so the run dir must not move) and pay only what the entry
    exists to measure: the restart and the 2 new chunks, re-executed every
    run. The tag is not in ``SHARED_MEMOS``, so a per-entry memo clear
    (``catalog.clear_shared_memos``) keeps it; ``lifetime.release(spark,
    "restart_phase1")`` frees the run dir and the phase-1 blocks.
    Re-invoking the entry in the same scope invalidates a previously
    returned (uncollected) frame.
    """
    import os as _os
    import shutil as _shutil

    from ..sources import staged_chunks
    from ..sources.tables import _stream_from_chunk_dir
    from .runner import auto_checkpoint_dir
    from .windows import windowed_counts

    chunks = staged_chunks(sf_dir, "events", n_chunks=4)
    parts = sorted(
        f for f in _os.listdir(chunks) if f.endswith(".parquet")
    )

    def drain(src: str, ckpt: str, n_parts: int | None = None) -> DataFrame:
        agg = windowed_counts(_stream_from_chunk_dir(spark, src, "events"))
        return run_stream_to_table(
            agg, "append", checkpoint_location=ckpt, parts=n_parts
        )

    staged = []

    def stage():
        run_dir = auto_checkpoint_dir("restart_recovery")
        src = _os.path.join(run_dir, "src")
        ckpt = _os.path.join(run_dir, "ckpt")
        _os.makedirs(src)
        # copy2 preserves mtimes, keeping delivery order identical to the
        # staged chunk sequence across both phases.
        for f in parts[:2]:
            _shutil.copy2(_os.path.join(chunks, f), _os.path.join(src, f))
        # Phase 1: drain chunks 0-1, commit, stop. The query freezes its
        # state-partition count into the checkpoint here; phase 2 restores
        # it from the offset log whatever the session's value, so only
        # phase 1 pins it.
        phase1 = drain(src, ckpt, STATE_PARTS)
        _shutil.copytree(ckpt, _os.path.join(run_dir, "snap_ckpt"))
        staged.append(run_dir)
        return run_dir, phase1

    key = fixture_key(sf_dir, "events")
    run_dir, phase1 = shared(spark, "restart_phase1", key, stage)
    if not staged and not _os.path.isdir(_os.path.join(run_dir, "snap_ckpt")):
        # The staged dir vanished (an external /tmp sweep) — re-stage
        # rather than restore into a ghost path.
        release(spark, "restart_phase1")
        run_dir, phase1 = shared(spark, "restart_phase1", key, stage)
    src, ckpt, snap = (
        _os.path.join(run_dir, d) for d in ("src", "ckpt", "snap_ckpt")
    )
    if not staged:
        # Restore the post-phase-1 checkpoint in place: the live one is
        # post-phase-2 from the previous invocation, so recovery against
        # it would drain nothing (and time nothing).
        _shutil.rmtree(ckpt)
        _shutil.copytree(snap, ckpt)
    for f in parts[2:]:
        dst = _os.path.join(src, f)
        if not _os.path.exists(dst):
            _shutil.copy2(_os.path.join(chunks, f), dst)
    # Phase 2: restart on the same checkpoint, drain chunks 2-3.
    return phase1.union(drain(src, ckpt))


@register(
    "streaming_chained_agg_daily",
    # Frontier = the final watermark (floor-ms global max − 10-min delay,
    # inclusive): a daily window with end ≤ wm has every one of its hourly
    # inputs finalized in the same batch that finalizes it (end_hour ≤
    # end_day ≤ wm, and both operators evict against the same per-batch
    # watermark), so every emitted day carries complete counts; a day
    # ending past the frontier never emits. n_hours pins that the hourly
    # stage's granularity actually flowed through the chain.
    oracle="""
    WITH wm AS (
      SELECT ((max(epoch_ns(ts)) // 1000000) - 600000) * 1000 AS wm_us
      FROM events
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours
    FROM events, wm
    WHERE epoch_ns(date_trunc('day', ts)) // 1000 + 86400000000 <= wm_us
    GROUP BY 1, 2
    """,
)
def streaming_chained_agg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming aggregations — TWO stateful operators in ONE query
    (Spark 3.4+ ``window_time``): hourly tumbling counts re-aggregated into
    daily totals, append mode, each stage with its own state store
    instances (the reference's provider hosts every store a query plans —
    one ``operatorId``/``partitionId`` store set per stateful operator,
    Provider.scala:347-360; this is the multi-operator case).

    The hourly stage emits a window only when the watermark finalizes it;
    the daily stage consumes those finalized rows AS A STREAM and applies
    the same watermark to its own day windows. The drained result must
    equal the batch daily GROUP BY restricted to finalized days — including
    ``n_hours``, which only matches if every hourly window reached the
    second stage exactly once.

    100 TB shape: the classic rollup cascade (hour → day) as one
    incremental query instead of a nightly batch re-scan; each stage is one
    keyed shuffle, state bounded by live (window, type) pairs per stage.
    """
    from ..sources import chunked_stream

    # 4 chunks, not the 8-chunk default: TWO stateful operators double
    # the per-batch store open/commit cost (2 ops x state partitions x
    # n_batches), and 4 time-ordered batches over the ~30-day fixture
    # still finalize hourly windows at every batch boundary — the
    # multi-batch eviction lifecycle the entry exists to exercise. The
    # emitted set is chunk-count-invariant (both stages evict against
    # the final frontier by drain end; oracle uses only that frontier).
    ev = chunked_stream(spark, sf_dir, "events", n_chunks=4)
    hourly = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("window"), "1 day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count("*").alias("n_hours"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "n_hours",
        )
    )
    # The two operators' buffered windows grow with the fixture's time
    # span, so state is sized by input.
    return run_stream_to_table(
        daily, output_mode="append", parts=STATE_PARTS,
        input_rows=_event_rows(sf_dir),
    )


@register(
    "streaming_sliding_window_update",
    oracle="""
    WITH expanded AS (
      SELECT e.event_type,
             make_timestamp(((epoch_ns(ts) // 1000 // 1800000000) * 1800
                             - off.o * 1800) * 1000000) AS wstart,
             e.value
      FROM events e, (SELECT unnest([0, 1]) AS o) off
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM expanded
    GROUP BY 1, 2
    """,
)
def streaming_sliding_window_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h / 30 min slide) in UPDATE mode over time-ordered
    micro-batches — the state-evicting production twin of
    ``streaming_sliding_window`` (see ``streaming_hourly_agg_update`` for
    the eviction/determinism argument)."""
    from ..sources import chunked_stream
    from .windows import windowed_counts

    # 4 chunks (r07, the r06 halve-batches pattern): per-batch fixed
    # cost dominates at fixture scale; the update-mode result is
    # chunk-count-independent (the final max-per-window collapse below
    # absorbs any update cadence) and 4 batches keep ≥3 real mid-stream
    # watermark advances / state evictions.
    agg = windowed_counts(
        chunked_stream(spark, sf_dir, "events", n_chunks=4),
        "1 hour",
        slide="30 minutes",
    )
    out = run_stream_to_table(agg, output_mode="update", parts=STATE_PARTS)
    return (
        out.groupBy("window_start", "event_type")
        .agg(F.max("n_events").alias("n_events"))
    )


@register(
    "streaming_session_window_append",
    # Append mode emits a session exactly once, when the watermark passes its
    # end. Empirically pinned on this Spark build (tests/test_streaming_modes):
    # the final no-data batch runs under availableNow, eviction fires iff
    # session_end <= watermark (inclusive), and the watermark is the
    # millisecond-floored global max event time minus the 10-min delay —
    # hence the ((gmax // 1000) - 600000) * 1000 bound.
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             epoch_ns(ts) // 1000 AS ts_us,
             lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id
                                             ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_id
      FROM flagged
    ), sess AS (
      SELECT user_id,
             CAST(min(ts_us) // 1000000 AS BIGINT) AS session_start_s,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             max(ts_us) + 1800000000 AS end_us
      FROM numbered
      GROUP BY user_id, session_id
    )
    SELECT user_id, session_start_s, n_events, sum_value
    FROM sess
    WHERE end_us <= ((SELECT max(epoch_ns(ts) // 1000) FROM events) // 1000
                     - 600000) * 1000
    """,
)
def streaming_session_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) in APPEND mode over time-ordered
    micro-batches: each session is emitted exactly once when the watermark
    closes it, and its state is evicted — the production recipe, vs the
    complete-mode oracle harness (``streaming_session_window``). Sessions
    still open at end-of-stream (within watermark of the last event) are
    never emitted; the oracle applies the same closed-session filter.
    """
    from ..sources import chunked_stream

    # 4 time-ordered chunks (halve-batches pattern, VERDICT r05 #4):
    # the emitted set is determined by the FINAL watermark (append mode
    # + in-order chunks: nothing is ever late, availableNow's closing
    # no-data batch finalizes the frontier), so it is chunk-count
    # independent; 3 mid-stream watermark advances keep real
    # session-close/eviction lifecycle at half the fixed batch cost.
    events = chunked_stream(spark, sf_dir, "events", n_chunks=4)
    sess = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("session_start_s"),
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_table(
        sess, output_mode="append", parts=STATE_PARTS,
        input_rows=_event_rows(sf_dir),
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_user_days
    FROM (SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d FROM events)
    GROUP BY event_type
    """,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — Spark's native expression of the
    reference's TTL-bounded seen-set (README.md:34-49, SURVEY §2.3
    streaming-dedup row): dedup state is evicted once the watermark passes
    a key's first-seen ts + delay, so the seen-set stops growing (asserted
    on state metrics in tests/test_streaming_modes.py).

    Determinism: the dedup key includes the event's UTC day, so a key spans
    < 24 h, and the 25 h watermark delay guarantees every later duplicate
    arrives (in time-ordered chunks) while the key is still in state —
    whatever the intra-batch processing order. Exactly one row is emitted
    per (event_type, user_id, day), making the result the batch DISTINCT
    the oracle computes, while state still evicts ~a day behind the stream.
    """
    from ..sources import chunked_stream

    # 4 chunks (r07): the determinism argument above is chunk-count-
    # independent (fewer boundaries only strengthen the 25 h in-state
    # guarantee), and 4 batches keep real cross-batch seen-set state.
    events = chunked_stream(spark, sf_dir, "events", n_chunks=4)
    keyed = events.select("event_type", "user_id", "ts", F.to_date("ts").alias("day"))
    dd = keyed.withWatermark("ts", "25 hours").dropDuplicatesWithinWatermark(
        ["event_type", "user_id", "day"]
    )
    out = run_stream_to_table(
        dd, output_mode="append", parts=STATE_PARTS,
        input_rows=_event_rows(sf_dir),
    )
    return out.groupBy("event_type").agg(F.count("*").alias("n_user_days"))


# Quality gate matching functions/text.py::text_gopher_quality_filter's
# word-count floor — the first stage of the curation pipeline.
_CURATION_MIN_WORDS = 20


@register(
    "streaming_curation_pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT lang, text,
             len({DUCK_TOKS.format(col='text')}) AS n_words
      FROM documents
    ),
    dd AS (
      SELECT DISTINCT lang, md5(text) AS fp
      FROM toks WHERE n_words >= {_CURATION_MIN_WORDS}
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_unique_quality_docs
    FROM dd GROUP BY lang
    """,
)
def streaming_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming curation composition: quality filter (word-count
    gate, matching text_gopher_quality_filter's floor) → exact content
    dedup (seen-digest state in RocksDB) → per-language corpus counts.

    The point is the COMPOSITION: the quality gate is a stateless
    projection that runs ahead of the stateful dedup, so the seen-set
    state only ever holds digests of documents worth keeping — at 100 TB
    the filter-before-state ordering is the difference between a seen-set
    sized to the curated corpus and one sized to the raw crawl. Dedup key
    is (lang, fingerprint) so the drained result is deterministic under
    any file-arrival order.
    """
    docs = read_stream(spark, sf_dir, "documents")
    toks = SPARK_TOKS.format(col="text")
    quality = docs.selectExpr("lang", "text", f"size({toks}) AS n_words").filter(
        F.col("n_words") >= _CURATION_MIN_WORDS
    )
    dd = quality.select("lang", F.md5("text").alias("fp")).dropDuplicates(
        ["lang", "fp"]
    )
    out = run_stream_to_table(dd, output_mode="append", parts=STATE_PARTS)
    return out.groupBy("lang").agg(F.count("*").alias("n_unique_quality_docs"))


@register(
    "streaming_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, x.event_id AS error_id, p.user_id
    FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
          WHERE event_type = 'error') x
      ON p.user_id = x.user_id
     AND x.ts_us >= p.ts_us
     AND x.ts_us <= p.ts_us + 1800000000
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-interval condition: errors within
    30 min after a purchase by the same user. Both sides buffer keyed state
    in the RocksDB store; watermarks bound the buffers (SURVEY.md §2.3).

    State-partition sizing: a stream-stream join runs FOUR state stores per
    partition per side, so per-partition fixed cost (RocksDB instance +
    commit per micro-batch) is 8× a plain streaming agg's. The partition
    count is a per-query deployment knob — it is frozen into the
    checkpoint at first start and must be sized to stream volume: measured
    at sf0.1/local, 8 partitions run the same join 2.6× faster than 32
    purely on instance overhead. A 100 TB deployment raises it with volume
    (state stays per-key partitioned; nothing here assumes 8).
    """
    p, x, cond = _interval_join_sides(spark, sf_dir)
    joined = p.join(x, cond).select(
        "purchase_id", "error_id", F.col("p_user").alias("user_id")
    )
    return run_stream_to_table(
        joined, output_mode="append", parts=8,
        input_rows=_event_rows(sf_dir),
    )


def _interval_join_sides(spark: SparkSession, sf_dir: str):
    """The two watermarked sides + join condition shared by every
    stream-stream interval-join variant: purchases joined to errors by the
    same user within [p_ts, p_ts + 30 min], both sides delayed 10 min."""
    p = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    x = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("x_user"),
            F.col("ts").alias("x_ts"),
        )
        .withWatermark("x_ts", "10 minutes")
    )
    cond = (
        (F.col("p_user") == F.col("x_user"))
        & (F.col("x_ts") >= F.col("p_ts"))
        & (F.col("x_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return p, x, cond


# One full-outer drain serving every derivable interval-join shape (r14,
# guide §1.2 "don't compute things you throw away": four solo stream-stream
# drains re-buffered the same two sides to emit subsets of one result).
# The full-outer output is the disjoint union of (a) the matched-pair
# multiset, (b) unmatched purchases null-extended once the global watermark
# strictly passes p_ts + 30 min, (c) unmatched errors null-extended once it
# strictly passes x_ts — with BOTH sides carrying the same watermark delay
# over the same source, the global (min) watermark of the shared drain
# equals each solo drain's, so per-side emission sets are identical and:
#   left_outer  = FO where purchase_id IS NOT NULL          (a ∪ b)
#   right_outer = FO where error_id    IS NOT NULL          (a ∪ c)
#   left_semi   = distinct (purchase_id, user_id) over (a)
# user_id equivalence: FO emits coalesce(p_user, x_user); on (a) the equi-
# condition makes them equal, on (b)/(c) the coalesce picks exactly the
# side the solo shape selects. Row-for-row equality with the solo
# operators is differential-pinned by
# tests/test_streaming_modes.py::test_interval_join_derived_shapes_equal_solo.
# The INNER entry stays a genuine solo drain: it is the production-shape
# flagship carrying the state-partition sizing contract, and keeping it
# solo keeps the buffered-both-sides inner operator in the measured path.
# Shared under the "interval_fo" lifetime tag, like the funnel drain.


def _interval_join_fo_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the full-outer interval join once per (session, fixture
    generation); the derivable shapes filter its sink (see the block
    comment above)."""

    def drain() -> DataFrame:
        p, x, cond = _interval_join_sides(spark, sf_dir)
        joined = p.join(x, cond, "fullOuter").select(
            "purchase_id",
            "error_id",
            F.coalesce(F.col("p_user"), F.col("x_user")).alias("user_id"),
        )
        return run_stream_to_table(
            joined, output_mode="append", parts=STATE_PARTS,
            input_rows=_event_rows(sf_dir),
        )

    return shared(spark, "interval_fo", fixture_key(sf_dir, "events"), drain)


def _interval_join_solo(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The solo-drain spelling of one interval-join shape — the pre-r14
    per-entry implementation, kept as the differential baseline so the
    derive-from-full-outer equivalences stay executable claims
    (test_interval_join_derived_shapes_equal_solo), not prose."""
    user_side = "x_user" if how == "rightOuter" else "p_user"
    p, x, cond = _interval_join_sides(spark, sf_dir)
    joined = p.join(x, cond, how)
    if how == "leftSemi":
        joined = joined.select("purchase_id", F.col("p_user").alias("user_id"))
    else:
        joined = joined.select(
            "purchase_id", "error_id", F.col(user_side).alias("user_id")
        )
    return run_stream_to_table(
        joined, output_mode="append", parts=STATE_PARTS,
        input_rows=_event_rows(sf_dir),
    )


def _event_rows(sf_dir: str) -> int:
    """The events table's row count — footer metadata, not a scan."""
    return parquet_row_count(table_path(sf_dir, "events"))


# Shared CTE prefix: both outer/semi oracles reason about the final global
# watermark — Spark's multi-watermark policy is MIN over inputs (each side's
# watermark = max event time seen on that side − its 10-min delay), advanced
# by availableNow's final no-data batch. Timestamps in microseconds to match
# Spark's nanos→micros event-time conversion (sources/tables.py); each side's
# max is floored to MILLISECONDS before the delay is subtracted — Spark
# tracks watermarks in ms (the same ms-floor every agg/session oracle in
# this file pins), and an un-floored frontier sits up to 999 µs ahead of
# Spark's, null-extending rows Spark still retains.
_IJ_ORACLE_PREFIX = """
    WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
               FROM events WHERE event_type = 'purchase'),
    x AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
          FROM events WHERE event_type = 'error'),
    wm AS (SELECT least(((SELECT max(ts_us) FROM p) // 1000) * 1000,
                        ((SELECT max(ts_us) FROM x) // 1000) * 1000)
                  - 600000000 AS w)
"""


@register(
    "streaming_interval_join_left_outer",
    oracle=_IJ_ORACLE_PREFIX
    + """
    SELECT p.event_id AS purchase_id, x.event_id AS error_id, p.user_id
    FROM p JOIN x
      ON p.user_id = x.user_id
     AND x.ts_us >= p.ts_us AND x.ts_us <= p.ts_us + 1800000000
    UNION ALL
    SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id
    FROM p
    WHERE NOT EXISTS (SELECT 1 FROM x
                      WHERE x.user_id = p.user_id
                        AND x.ts_us >= p.ts_us
                        AND x.ts_us <= p.ts_us + 1800000000)
      AND p.ts_us + 1800000000 < (SELECT w FROM wm)
    """,
)
def streaming_interval_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream interval join (SURVEY.md §2.3 names
    inner AND outer): purchases with their errors-within-30-min, or NULL
    once the join window provably closed.

    Null-extension is WATERMARK-DRIVEN state eviction — exactly the
    store-bounding behavior the reference exists for (README.md:11-13): an
    unmatched purchase row is emitted with a NULL right side only when the
    global watermark passes ``p_ts + 30 min`` STRICTLY (boundary pinned
    empirically: a row whose window closes exactly AT the watermark is
    retained, not emitted). Purchases newer than that stay buffered with
    no output — the oracle encodes the same cutoff from the data, so the
    driver verifies Spark's eviction frontier, not just the matches.

    Since r14 this is the purchase-side slice of the shared full-outer
    drain (``interval_fo`` — equivalence argument and differential pin on
    the block comment there): FO rows with a non-null purchase side
    are exactly the matched pairs plus the watermark-closed unmatched
    purchases a solo leftOuter drain emits.
    """
    return _interval_join_fo_drained(spark, sf_dir).filter(
        F.col("purchase_id").isNotNull()
    )


@register(
    "streaming_interval_join_full_outer",
    oracle=_IJ_ORACLE_PREFIX
    + """
    SELECT p.event_id AS purchase_id, x.event_id AS error_id, p.user_id
    FROM p JOIN x
      ON p.user_id = x.user_id
     AND x.ts_us >= p.ts_us AND x.ts_us <= p.ts_us + 1800000000
    UNION ALL
    SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id
    FROM p
    WHERE NOT EXISTS (SELECT 1 FROM x
                      WHERE x.user_id = p.user_id
                        AND x.ts_us >= p.ts_us
                        AND x.ts_us <= p.ts_us + 1800000000)
      AND p.ts_us + 1800000000 < (SELECT w FROM wm)
    UNION ALL
    SELECT CAST(NULL AS BIGINT), x.event_id, x.user_id
    FROM x
    WHERE NOT EXISTS (SELECT 1 FROM p
                      WHERE p.user_id = x.user_id
                        AND x.ts_us >= p.ts_us
                        AND x.ts_us <= p.ts_us + 1800000000)
      AND x.ts_us < (SELECT w FROM wm)
    """,
)
def streaming_interval_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer stream-stream interval join: matches, plus each side's
    rows null-extended once its join window provably closed at the global
    watermark. The two frontiers differ per side's role in the condition:
    an unmatched purchase waits until ``w`` passes ``p_ts + 30 min`` (a
    later error could still match), an unmatched error only until ``w``
    passes its own ``x_ts`` (any matching purchase must have
    ``p_ts ≤ x_ts``). Both cutoffs strict, mirroring the empirically
    pinned left-outer boundary (a row whose window closes exactly AT the
    watermark is retained, not emitted). The oracle derives both
    frontiers from the data, so the driver verifies eviction on BOTH
    state buffers, not just the match set.

    Since r14 this drain is SHARED (``interval_fo``): the outer and semi
    shapes are exact slices of the full-outer output, so one drain serves
    all of them (block comment on _interval_join_fo_drained).
    """
    return _interval_join_fo_drained(spark, sf_dir)


@register(
    "streaming_interval_join_right_outer",
    oracle=_IJ_ORACLE_PREFIX
    + """
    SELECT p.event_id AS purchase_id, x.event_id AS error_id, x.user_id
    FROM p JOIN x
      ON p.user_id = x.user_id
     AND x.ts_us >= p.ts_us AND x.ts_us <= p.ts_us + 1800000000
    UNION ALL
    SELECT CAST(NULL AS BIGINT), x.event_id, x.user_id
    FROM x
    WHERE NOT EXISTS (SELECT 1 FROM p
                      WHERE p.user_id = x.user_id
                        AND x.ts_us >= p.ts_us
                        AND x.ts_us <= p.ts_us + 1800000000)
      AND x.ts_us < (SELECT w FROM wm)
    """,
)
def streaming_interval_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-outer stream-stream interval join — completes the join-shape
    matrix (inner/leftOuter/rightOuter/fullOuter/leftSemi, everything
    Spark supports for stream-stream joins). An unmatched error
    null-extends once the global watermark passes its own ``x_ts``
    strictly: any matching purchase must satisfy ``p_ts <= x_ts``, so the
    error's join window closes with its own event time — the same
    right-side frontier the full-outer oracle pins, isolated here so the
    driver verifies the right buffer's eviction independently of the left.

    Since r14 the error-side slice of the shared full-outer drain
    (``interval_fo``): FO rows with a non-null error side are the matched
    pairs plus the watermark-closed unmatched errors.
    """
    return _interval_join_fo_drained(spark, sf_dir).filter(
        F.col("error_id").isNotNull()
    )


@register(
    "streaming_interval_join_left_semi",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (SELECT 1 FROM events x
                  WHERE x.event_type = 'error'
                    AND x.user_id = p.user_id
                    AND epoch_ns(x.ts) // 1000 >= epoch_ns(p.ts) // 1000
                    AND epoch_ns(x.ts) // 1000
                        <= epoch_ns(p.ts) // 1000 + 1800000000)
    """,
)
def streaming_interval_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi stream-stream interval join: purchases that saw at least
    one error within 30 min — each left row emitted at most once, on its
    first match, never null-extended. The streaming EXISTS: right state
    only ever stores enough to answer membership, and the drained result
    equals the batch semi join.

    Since r14 the distinct matched purchases of the shared full-outer
    drain (``interval_fo``): purchase_id is unique (event_id), so the
    distinct matched (purchase_id, user_id) pairs are exactly the
    at-most-once-per-left-row semi output.
    """
    return (
        _interval_join_fo_drained(spark, sf_dir)
        .filter(
            F.col("purchase_id").isNotNull() & F.col("error_id").isNotNull()
        )
        .select("purchase_id", "user_id")
        .distinct()
    )


def _kv_op_select(events: DataFrame) -> DataFrame:
    """THE events→(key, op, value, ts_s, seq) mapping: purchase →
    put(value cents), error → remove, view/signup → get; virtual clock =
    event time, sequence = event_id. One definition shared by the streaming
    kernels, the lazy-bounds chunked replay, and the batch bound folds, so
    the kernel under test and the bounds it is checked against cannot
    drift (its SQL twin is ``_KV_OPS_ORACLE_CTE``)."""
    return events.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("key"),
        F.when(F.col("event_type") == "purchase", "put")
        .when(F.col("event_type") == "error", "remove")
        .otherwise("get")
        .alias("op"),
        (F.col("value") * 100).cast("long").alias("value"),
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("event_id").alias("seq"),
    )


def _event_kv_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream → deterministic keyed-state op stream (see
    :func:`_kv_op_select`)."""
    return _kv_op_select(read_stream(spark, sf_dir, "events"))


def _get_outcome_summary(out: DataFrame) -> DataFrame:
    """Aggregate per-key get outcomes into a compact deterministic result."""
    return out.groupBy("key").agg(
        F.count("*").alias("n_gets"),
        F.sum(F.col("found").cast("int")).alias("n_hits"),
        F.sum(F.when(F.col("found"), F.col("value")).otherwise(0)).alias(
            "sum_hit_values"
        ),
    )


# SQL twin of _kv_op_select — the single oracle-side spelling of the
# events→op-stream mapping, shared by every TTL oracle below.
_KV_OPS_ORACLE_CTE = """
    ops AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS key,
             CASE WHEN event_type = 'purchase' THEN 'put'
                  WHEN event_type = 'error' THEN 'remove'
                  ELSE 'get' END AS op,
             CAST(trunc(value * 100) AS BIGINT) AS v,
             epoch_ns(ts) // 1000000000 AS ts_s,
             event_id AS seq
      FROM events
    )
"""


def _infinite_fold_oracle(order_by: str) -> str:
    """Oracle for infinite-TTL keyed state: a get finds the key iff the
    latest preceding put/remove op for that key — in the given replay
    order — is a put. One plain window-function fold; the replay order is
    the only thing that differs between the virtual-clock kernel
    (``ts_s, seq``) and the wall-clock kernel (``seq`` alone: arrival
    order stands in for wall time, its state has no virtual ts)."""
    return f"""
    WITH {_KV_OPS_ORACLE_CTE},
    st AS (
      SELECT key, op,
             last_value(CASE WHEN op IN ('put', 'remove')
                             THEN {{'o': op, 'v': v}} END IGNORE NULLS)
               OVER (PARTITION BY key ORDER BY {order_by}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM ops
    )
    SELECT key,
           CAST(count(*) AS BIGINT) AS n_gets,
           CAST(sum(CASE WHEN prev.o = 'put' THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN prev.o = 'put' THEN prev.v ELSE 0 END) AS BIGINT)
             AS sum_hit_values
    FROM st WHERE op = 'get' GROUP BY key
    """


@register(
    "keyed_state_ttl_infinite",
    # ttl = -1 (the reference's default, README.md:102-104) makes the kernel
    # SQL-expressible — a real value-checked driver verdict instead of
    # rows-only (VERDICT r02 #1d).
    oracle=_infinite_fold_oracle("ts_s, seq"),
)
def keyed_state_ttl_infinite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Infinite-TTL keyed state (``ttl = -1``, the reference default):
    state never expires — a get succeeds iff a put for the key precedes it
    with no intervening remove. The 'inf' binding of the shared
    virtual-clock drain (``_virtual_kv_drained``)."""
    return _virtual_summary(spark, sf_dir, "inf")


# NOTE: through round 4 a rows-only `keyed_state_ttl` entry exercised the
# lazy (non-strict) finite-TTL mode without a value check, because its
# served-while-expired window depends on sweep timing. It is superseded by
# `keyed_state_ttl_lazy_bounds` below (VERDICT r04 #3): the same kernel and
# mode, driven over a chunked replay with real sweeps, value-checked via a
# proved-sound bounds sandwich — the catalog now has zero rows-only entries.


def _strict_ttl_oracle(ttl_s: int) -> str:
    """Gap-sessionization oracle for STRICT expire-after-access keyed state.

    Strict finite TTL (the reference's marquee semantics,
    ``RocksDbStateTimeoutSuite.scala:123-170`` "ttl should reset on get, set
    and update", enforced on read per ``RocksDbStateStoreProvider.scala:
    139-146``) IS SQL-expressible under the virtual clock: a get is served
    iff its epoch (the run since the latest put, cut by put/remove) started
    with a put AND every consecutive gap in the epoch's access chain is
    < ttl. Dead gets don't extend the deadline — but the running MAX over
    the naive (all-rows) gap chain is still exact, because the first gap
    ≥ ttl kills that get and, time being monotone within a key, every later
    get of the epoch too (so which accesses "really" reset never matters
    past the first violation). Same lag/running-sum family as the
    session-window oracle above.
    """
    return f"""
    WITH {_KV_OPS_ORACLE_CTE},
    epo AS (
      SELECT *,
             sum(CASE WHEN op IN ('put', 'remove') THEN 1 ELSE 0 END)
               OVER (PARTITION BY key ORDER BY ts_s, seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
      FROM ops
    ),
    gaps AS (
      SELECT *, first_value(op) OVER w AS ep_op,
             first_value(v) OVER w AS ep_v,
             coalesce(ts_s - lag(ts_s) OVER w, 0) AS gap
      FROM epo
      WINDOW w AS (PARTITION BY key, epoch ORDER BY ts_s, seq)
    ),
    alive AS (
      SELECT *, max(gap) OVER (PARTITION BY key, epoch ORDER BY ts_s, seq
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS max_gap
      FROM gaps
    )
    SELECT key,
           CAST(count(*) AS BIGINT) AS n_gets,
           CAST(sum(CASE WHEN ep_op = 'put' AND max_gap < {ttl_s}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN ep_op = 'put' AND max_gap < {ttl_s}
                         THEN ep_v ELSE 0 END) AS BIGINT) AS sum_hit_values
    FROM alive WHERE op = 'get' GROUP BY key
    """


def _run_ttl_summary(
    spark: SparkSession, sf_dir: str, conf: dict, name: str, kv_ops
) -> DataFrame:
    """One solo drain of the TTL stage builder ``kv_ops`` (``ttl_kv_ops``,
    or ``ttl_kv_ops_tws`` of streaming/ttl_tws.py) over the events op
    stream, with ``conf`` resolved for query ``name``; returns the per-key
    get-outcome summary. Serves the transformWithStateInPandas entries, and
    is the solo reference the shared virtual drain is differential-tested
    against."""
    out = run_stream_to_table(
        kv_ops(_event_kv_ops(spark, sf_dir), resolve_ttl(conf, name)),
        output_mode="append",
    )
    return _get_outcome_summary(out)


_STRICT_TTL_SECS = 21600  # ~40th pct of per-key access gaps: hits AND expiries


@register("keyed_state_ttl_strict", oracle=_strict_ttl_oracle(_STRICT_TTL_SECS))
def keyed_state_ttl_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINITE-TTL keyed state, strict mode — the reference's defining
    expire-after-access semantics with a full value-checked oracle: a key
    expires ``ttl`` seconds after its last put or served get (dead gets
    don't extend; a strict miss drops the key on read,
    ``RocksDbStateStoreProvider.scala:139-146``). Virtual clock = event
    time, so the fold is deterministic and the gap-sessionization oracle
    (see ``_strict_ttl_oracle``) replays it exactly. The 'strict' binding
    of the shared virtual-clock drain (``_virtual_kv_drained``).
    """
    return _virtual_summary(spark, sf_dir, "strict")


@register(
    "keyed_state_ttl_stateless",
    # ttl = 0 → stateless: every put is immediately invisible, every get
    # misses (reference README.md:34-49, RocksDbStateTimeoutSuite.scala:
    # 83-102) — so the oracle is simply the per-key get count with zero hits.
    oracle="""
    SELECT 'u' || CAST(user_id AS VARCHAR) AS key,
           CAST(sum(CASE WHEN event_type NOT IN ('purchase', 'error')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gets,
           CAST(0 AS BIGINT) AS n_hits,
           CAST(0 AS BIGINT) AS sum_hit_values
    FROM events
    GROUP BY user_id
    HAVING sum(CASE WHEN event_type NOT IN ('purchase', 'error')
               THEN 1 ELSE 0 END) > 0
    """,
)
def keyed_state_ttl_stateless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless mode (``ttl = 0``): the kernel runs, state is never
    retained, every get misses — the reference's third headline TTL
    behavior (``RocksDbStateTimeoutSuite.scala:83-102``). The 'stateless'
    binding of the shared virtual-clock drain (``_virtual_kv_drained``)."""
    return _virtual_summary(spark, sf_dir, "stateless")


_PER_QUERY_TTLS = {"kv_fast": 3600, "kv_slow": 86400}

# One virtual-clock drain serves every virtual-clock TTL entry (VERDICT r07
# #4, the wall-clock dual-drain pattern at r06 #7): the infinite, strict and
# stateless entries, the per-query-TTL pair and the lazy-bounds entry are
# six bindings of ONE ttl_kv_ops stage over the same op stream — one group
# per hash bucket and batch, in which each key present runs every binding's
# unchanged fold against that key's own slot of the bucket's state row
# (streaming/ttl.py) — so the sink holds '<binding>|'-prefixed rows
# (differential-pinned against solo drains by
# tests/test_funnel_drain_share.py::test_virtual_drain_bindings_equal_solo_drains).
#
# Soundness of sharing one 2-chunk replay across the bindings:
# - the lazy binding ran 2-chunk solo (_LAZY_BOUNDS_CHUNKS) — identical here;
# - infinite never expires and stateless never stores, so neither has a
#   chunking term;
# - the STRICT bindings (strict, kv_fast, kv_slow) ran single-batch solo, but
#   strict outcomes are replay-chunking-INVARIANT: strict expiry is enforced on
#   read (now - last_access >= ttl misses and drops), and the only chunking
#   effect — the batch-end sweep dropping a key at a chunk boundary — is
#   unobservable, because chunks are contiguous in (ts, seq) so any later
#   get of that key has now' >= chunk-end >= last_access + ttl and would
#   miss (and strict-drop) anyway. Same argument as the strict oracle being
#   a pure fold over (ts_s, seq) with no batching term.
# Shared under the "virtual_kv" lifetime tag, like the wall-clock drain.


def _virtual_ttl_confs() -> dict[str, tuple[dict, str]]:
    """Binding name -> (conf, query name) of the shared virtual drain —
    exactly what each entry's solo drain resolved: the per-query names
    through stateExpirySecs.<name> (Provider.scala:738-742 semantics), the
    others through the plain key."""
    strict = {STATE_STRICT_EXPIRE: "true", STATE_EXPIRY_SECS: str(_STRICT_TTL_SECS)}
    per_q = {
        STATE_STRICT_EXPIRE: "true",
        **{f"{STATE_EXPIRY_SECS}.{n}": str(t) for n, t in _PER_QUERY_TTLS.items()},
    }
    return {
        "inf": ({}, "events_kv_inf"),
        "strict": (strict, "events_kv_strict"),
        "stateless": ({STATE_EXPIRY_SECS: "0"}, "events_kv_stateless"),
        "lazy": (
            {STATE_EXPIRY_SECS: str(_LAZY_BOUNDS_TTL_SECS)},
            "events_kv_lazy_bounds",
        ),
        **{n: (per_q, n) for n in _PER_QUERY_TTLS},
    }


def _virtual_kv_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain all virtual-clock TTL bindings once per (session, fixture
    generation); returns the combined sink with binding-prefixed keys."""
    from ..sources import chunked_stream

    def drain() -> DataFrame:
        bindings = {
            b: resolve_ttl(conf, q) for b, (conf, q) in _virtual_ttl_confs().items()
        }
        # The chunked replay leans on the fixture's (ts, event_id) ordering
        # contract — assert it once per drain.
        _assert_event_id_ts_monotone(spark, sf_dir)
        ops = _kv_op_select(
            chunked_stream(
                spark, sf_dir, "events", n_chunks=_LAZY_BOUNDS_CHUNKS
            )
        )
        # 16 state partitions (see _LAZY_BOUNDS_CHUNKS).
        return run_stream_to_table(
            ttl_kv_ops(ops, bindings),
            output_mode="append",
            parts=16,
            input_rows=_event_rows(sf_dir),
        )

    return shared(spark, "virtual_kv", fixture_key(sf_dir, "events"), drain)


def _binding_outcomes(drained: DataFrame, binding: str) -> DataFrame:
    """One binding's get outcomes from a shared drain, prefix stripped."""
    prefix = binding + "|"
    return drained.filter(F.col("key").startswith(prefix)).withColumn(
        "key", F.expr(f"substring(key, {len(prefix) + 1})")
    )


def _virtual_summary(spark: SparkSession, sf_dir: str, binding: str) -> DataFrame:
    """One virtual-clock binding's per-key get-outcome summary."""
    return _get_outcome_summary(
        _binding_outcomes(_virtual_kv_drained(spark, sf_dir), binding)
    )


@register(
    "keyed_state_ttl_per_query",
    # Two kernels resolve different TTLs from ONE conf registry via
    # stateExpirySecs.<queryName> (RocksDbStateStoreProvider.scala:738-742
    # semantics) and run over the same op stream; the oracle unions the
    # per-TTL strict folds.
    oracle="\nUNION ALL\n".join(
        f"SELECT '{name}' AS query_name, * FROM ({_strict_ttl_oracle(ttl)})"
        for name, ttl in sorted(_PER_QUERY_TTLS.items())
    ),
)
def keyed_state_ttl_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query TTL differentiation (``RocksDbStateTimeoutSuite.scala:
    172-240``): two queries share one conf registry and one clock but
    resolve different ``stateExpirySecs.<name>`` deadlines — the fast one
    expires most state between accesses, the slow one retains it. Output =
    both get-outcome summaries, tagged by query name.

    Both bindings execute on the shared virtual-clock drain (VERDICT r07
    #4 — see the soundness note on ``_virtual_kv_drained``): the unchanged
    strict production fold (``replay_virtual``) runs once per binding per
    key and batch, each with its own resolved TTL; only the micro-batch
    infrastructure and the group-call boundary are shared.
    """
    parts = [
        _virtual_summary(spark, sf_dir, name).select(
            F.lit(name).alias("query_name"), "*"
        )
        for name in sorted(_PER_QUERY_TTLS)
    ]
    return functools.reduce(DataFrame.unionByName, parts)


from .ttl_tws import TWS_AVAILABLE as _TWS_AVAILABLE, ttl_kv_ops_tws  # noqa: E402

if _TWS_AVAILABLE:
    # Registered only where the transformWithState driver worker can run
    # (needs google.protobuf — absent in this container, present on real
    # clusters). Same kernels, same oracles as the applyInPandasWithState
    # entries: the shared replay_virtual fold makes the bindings
    # semantically identical by construction, and these entries prove it
    # externally wherever the dependency exists.

    @register(
        "keyed_state_ttl_tws_infinite", oracle=_infinite_fold_oracle("ts_s, seq")
    )
    def keyed_state_ttl_tws_infinite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """``keyed_state_ttl_infinite`` on Spark 4's native arbitrary-state
        API (transformWithStateInPandas, timeMode=none)."""
        return _run_ttl_summary(
            spark, sf_dir, {}, "events_kv_tws_inf", ttl_kv_ops_tws
        )

    @register(
        "keyed_state_ttl_tws_strict", oracle=_strict_ttl_oracle(_STRICT_TTL_SECS)
    )
    def keyed_state_ttl_tws_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
        """``keyed_state_ttl_strict`` on transformWithStateInPandas — the
        reference's marquee expire-after-access contract on the modern
        API."""
        conf = {
            STATE_EXPIRY_SECS: str(_STRICT_TTL_SECS),
            STATE_STRICT_EXPIRE: "true",
        }
        return _run_ttl_summary(
            spark, sf_dir, conf, "events_kv_tws_strict", ttl_kv_ops_tws
        )


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the most common production streaming
    shape: each purchase event is joined to the (static) customer→nation
    dimension as it arrives, then revenue is rolled up per nation.

    State story: a stream-static join keeps NO state at all — the static
    side is re-planned into every micro-batch, so this composes with any
    downstream stateful operator without growing the store. Broadcast
    policy (the repo rule tests/test_plans.py enforces): only the
    schema-bounded ``nation`` dim carries an explicit hint; ``customer``
    scales with sf, so it must EARN its broadcast from Catalyst/AQE size
    estimates — small today, a shuffled stream-static join at 100 TB,
    never a hinted OOM.
    """
    ev = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "value")
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    enriched = ev.join(dim, "user_id")
    out = run_stream_to_table(enriched, output_mode="append", parts=STATE_PARTS)
    return out.groupBy("nation").agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue"),
    )


# One wall-clock drain serves both wallclock TTL entries (VERDICT r06 #7,
# the funnel-pair pattern): infinite (never arms a timeout) and
# finite-strict (arms ProcessingTimeTimeout at 1 day) are two bindings of
# ONE ttl_kv_ops_wallclock stage over the same op stream, so a second
# processing-time-trigger drain would duplicate pure micro-batch
# infrastructure (query start/stop, trailing-empty-batch wait, poll
# latency). Each binding keeps its own fold order, timeout arming and strict
# read-side expiry (streaming/ttl.py; differential-pinned by
# test_funnel_drain_share's wallclock test). Shared under the
# "wallclock_kv" lifetime tag, like the funnel drain.


def _wallclock_kv_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain both wall-clock TTL bindings once per (session, fixture
    generation); returns the combined sink with 'inf|'/'fin|'-prefixed keys.
    """
    from .runner import run_stream_drain_wallclock

    def drain() -> DataFrame:
        ttls = {
            "inf": resolve_ttl({}, "events_kv_wall_inf"),  # default -1
            "fin": resolve_ttl(
                {
                    STATE_EXPIRY_SECS: str(_WALL_FINITE_TTL_SECS),
                    STATE_STRICT_EXPIRE: "true",
                },
                "events_kv_wall_finite",
            ),
        }
        stream = ttl_kv_ops_wallclock(_event_kv_ops(spark, sf_dir), ttls)
        # numInputRows is a SOURCE metric — the raw events row count.
        n_rows = _event_rows(sf_dir)
        # The drain deadline is a STALL detector, not a size cap: scale it
        # with the input so a healthy 10-100x run (observed kernel
        # throughput ~10^5 rows/s) never trips it — the floor rate here is
        # ~2K rows/s, ~50x slower than healthy, so a genuine stall still
        # fails fast relative to the workload size (r08; the 100x probe
        # needs this).
        timeout_s = max(180.0, n_rows / 2000.0)
        # 16 state partitions, as the virtual-clock drain.
        return run_stream_drain_wallclock(
            stream, n_input_rows=n_rows, output_mode="append",
            timeout_s=timeout_s, parts=16,
        )

    return shared(spark, "wallclock_kv", fixture_key(sf_dir, "events"), drain)


@register(
    "keyed_state_wallclock_infinite",
    # The PRODUCTION clock binding (ProcessingTimeTimeout kernel) gets a
    # driver-checkable oracle by running it at ttl = -1: with infinite TTL
    # the wall clock never expires anything, so the outcome is the same
    # fold as keyed_state_ttl_infinite in the wall-clock kernel's replay
    # order (see _infinite_fold_oracle).
    oracle=_infinite_fold_oracle("seq"),
)
def keyed_state_wallclock_infinite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wall-clock (``ProcessingTimeTimeout``) TTL kernel — the
    reference's production "is not eventual" binding — driven at infinite
    TTL so its outcome is deterministic and oracle-checkable: a get is
    served iff the latest preceding op for its key in ``seq`` order is a
    put. Finite wall-clock TTLs stay pinned by local clock-controlled
    tests (tests/test_ttl.py), where elapsed real time is observable.

    Runs on the shared dual-binding drain (``_wallclock_kv_drained``): the
    'inf' binding runs the UNCHANGED infinite-TTL production fold (never
    arms a timeout), batch-for-batch what a solo drain runs.
    """
    _assert_event_id_ts_monotone(spark, sf_dir, scope="global")
    return _get_outcome_summary(
        _binding_outcomes(_wallclock_kv_drained(spark, sf_dir), "inf")
    )


# --- TTL bounds oracles (VERDICT r04 #3-4) ----------------------------------
#
# The lazy (non-strict) finite-TTL mode serves expired-but-unswept keys until
# the next sweep (reference TtlDB compaction-time expiry, Provider.scala:
# 80-85), so its exact hit set depends on sweep timing and has no batch SQL
# equivalent. It IS boundable: every lazy hit set is sandwiched between two
# SQL-expressible folds over the same op stream, proved sound against the
# kernel's sweep rule (replay_virtual, streaming/ttl.py):
#
#   LOWER (update-clock strict fold): a get at time g whose latest preceding
#   put/remove is a put at p with g − p < ttl is ALWAYS served lazily — any
#   sweep between p and g runs at a per-key batch end s ≤ g (chunks are
#   globally time-ordered), and s − p ≤ g − p < ttl keeps the key alive; the
#   lazy clock is update-based so nothing between p and g moves it.
#   UPPER (infinite fold): lazy `have` transitions are the infinite fold's
#   put/remove transitions minus sweep drops, so lazy hits ⊆ infinite hits.
#
# Event values are strictly positive (cents ≥ 1), so hit-sum monotonicity
# follows from hit-set nesting and is checked too.

_LAZY_BOUNDS_TTL_SECS = 21600
# Chunk/partition choice measured at sf0.1 (the per-query deployment knob):
# per-batch cost here was Python kernel invocations (batches × key groups;
# batches × hash buckets since streaming/ttl.py bucketed the stage), so
# fewer chunks win as long as a real between-batch sweep remains — the
# bounds sandwich is proved for ANY time-ordered chunking, and one
# mid-stream sweep boundary already makes lazily-expired keys genuinely
# drop mid-stream (r05 sweep: 8 chunks 7.9 s, 3 chunks ~3.0 s kernel; r06
# drops to 2 = the chained-agg halve-batches pattern, VERDICT r05 #4).
# The KV drains' tuned 16 state partitions beat both 4 (group-skew
# serialization, 20.9 s) and 32 (setup overhead) for this key cardinality.
_LAZY_BOUNDS_CHUNKS = 2


def _batch_kv_fold_bounds(
    spark: SparkSession, sf_dir: str, ttl_s: int, order_cols: list[str]
) -> DataFrame:
    """Per-key (gets, lower/upper hit + sum bounds) via batch window folds.

    One shuffle on key; the folds are plain window aggregations (whole-stage
    codegen, no Python), so at 100 TB this costs the same as any keyed
    window query. ``order_cols`` picks the replay order: ``[ts_s, seq]``
    for the virtual-clock kernels, ``[seq]`` for the wall-clock kernel
    (which ignores event time)."""
    from pyspark.sql.window import Window

    ops = _kv_op_select(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("key")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(
            F.col("op").isin("put", "remove"),
            F.struct(
                F.col("op").alias("o"),
                F.col("value").alias("v"),
                F.col("ts_s").alias("t"),
            ),
        ),
        ignorenulls=True,
    ).over(w)
    gets = ops.withColumn("prev", prev).filter(F.col("op") == "get")
    upper_hit = F.col("prev.o") == "put"
    lower_hit = upper_hit & ((F.col("ts_s") - F.col("prev.t")) < F.lit(ttl_s))
    return gets.groupBy("key").agg(
        F.count("*").alias("b_gets"),
        F.sum(F.when(lower_hit, 1).otherwise(0)).alias("lo_hits"),
        F.sum(F.when(lower_hit, F.col("prev.v")).otherwise(0)).alias("lo_sum"),
        F.sum(F.when(upper_hit, 1).otherwise(0)).alias("up_hits"),
        F.sum(F.when(upper_hit, F.col("prev.v")).otherwise(0)).alias("up_sum"),
    )


@register(
    "keyed_state_ttl_lazy_bounds",
    # The oracle independently recomputes the anchors (every key, every get
    # event) and BOTH bound folds, and predicts zero violations — so a lazy
    # kernel that under- or over-serves, drops gets, or loses keys fails the
    # value hash, not just a row count. This upgrades the lazy mode from the
    # catalog's last rows-only row to a value-checked external verdict.
    oracle=f"""
    WITH {_KV_OPS_ORACLE_CTE},
    st AS (
      SELECT key, op, ts_s,
             last_value(CASE WHEN op IN ('put', 'remove')
                             THEN {{'o': op, 't': ts_s}} END IGNORE NULLS)
               OVER (PARTITION BY key ORDER BY ts_s, seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM ops
    )
    SELECT CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
           CAST(count(*) AS BIGINT) AS n_get_events,
           CAST(sum(CASE WHEN prev.o = 'put'
                          AND ts_s - prev.t < {_LAZY_BOUNDS_TTL_SECS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS lower_hits,
           CAST(sum(CASE WHEN prev.o = 'put' THEN 1 ELSE 0 END) AS BIGINT)
             AS upper_hits,
           CAST(0 AS BIGINT) AS n_violation_keys
    FROM st WHERE op = 'get'
    """,
)
def keyed_state_ttl_lazy_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAZY (non-strict) finite TTL, externally value-checked via a bounds
    sandwich: run the kernel over a CHUNKED replay (``_LAZY_BOUNDS_CHUNKS``
    time-ordered micro-batches → a real between-batch sweep at each chunk
    boundary, so expired keys genuinely drop mid-stream), then check per
    key that every outcome sits inside the
    proved-sound SQL bounds (see the block comment above) and that no get
    event or key was lost. Emits one summary row: the anchors, both bound
    totals, and the violation count (must be 0).

    Reference semantics pinned: keys live "≥ ttl" under compaction-time
    expiry (``RocksDbStateStoreProvider.scala:80-85``) — served-while-
    expired is allowed, serving beyond the infinite fold or dropping a
    still-alive key is not.

    The lazy fold executes on the shared virtual-clock drain (VERDICT
    r07 #4, ``_virtual_kv_drained``) with the SAME chunked replay
    (``_LAZY_BOUNDS_CHUNKS`` time-ordered micro-batches) and state
    partitioning the solo drain used — its per-(batch, key) fold inputs,
    including the real between-batch sweeps the bounds sandwich needs
    (a swept binding restarts the next batch from have=False, exactly as
    a removed solo-state row would), are unchanged.
    """
    lazy = _get_outcome_summary(
        _binding_outcomes(_virtual_kv_drained(spark, sf_dir), "lazy")
    )
    bounds = _batch_kv_fold_bounds(
        spark, sf_dir, _LAZY_BOUNDS_TTL_SECS, ["ts_s", "seq"]
    )
    j = lazy.join(bounds, "key", "full_outer")
    violated = F.coalesce(
        (F.col("n_gets") != F.col("b_gets"))
        | (F.col("n_hits") < F.col("lo_hits"))
        | (F.col("n_hits") > F.col("up_hits"))
        | (F.col("sum_hit_values") < F.col("lo_sum"))
        | (F.col("sum_hit_values") > F.col("up_sum")),
        F.lit(True),  # a key missing from either side is itself a violation
    )
    return j.agg(
        F.count("*").alias("n_keys"),
        F.sum("b_gets").alias("n_get_events"),
        F.sum("lo_hits").alias("lower_hits"),
        F.sum("up_hits").alias("upper_hits"),
        F.sum(violated.cast("int")).cast("long").alias("n_violation_keys"),
    )


_WALL_FINITE_TTL_SECS = 86400  # wall seconds; >> the 180 s drain deadline


@register(
    "keyed_state_wallclock_finite_bounds",
    # Finite wall-clock expiry is timing-dependent in general, but this run
    # is DETERMINISTIC-OR-ERROR: the drain enforces a 180 s wall deadline
    # (runner.run_stream_drain_wallclock raises past it), so with ttl = 1
    # day no elapsed check can ever reach the deadline and the finite
    # kernel's outcome provably equals the infinite fold in arrival (seq)
    # order — the bounds sandwich collapses to equality. A spurious expiry
    # (deadline arithmetic off, setTimeoutDuration mis-armed, strict
    # elapsed check inverted) shows up as a violation; a stalled run errors
    # instead of silently passing.
    oracle=f"""
    WITH {_KV_OPS_ORACLE_CTE},
    st AS (
      SELECT key, op,
             last_value(CASE WHEN op IN ('put', 'remove')
                             THEN {{'o': op}} END IGNORE NULLS)
               OVER (PARTITION BY key ORDER BY seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM ops
    )
    SELECT CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
           CAST(count(*) AS BIGINT) AS n_get_events,
           CAST(sum(CASE WHEN prev.o = 'put' THEN 1 ELSE 0 END) AS BIGINT)
             AS expected_hits,
           CAST(0 AS BIGINT) AS n_violation_keys
    FROM st WHERE op = 'get'
    """,
)
def keyed_state_wallclock_finite_bounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FINITE wall-clock TTL (``ProcessingTimeTimeout``) — the reference's
    production expire-after-access binding (``RocksDbStateTimeoutSuite.
    scala:104-121``) at ttl = 1 day, externally value-checked: every per-key
    outcome must equal the infinite fold in arrival order (sound because
    the drain deadline bounds all elapsed wall time far below the ttl; see
    the oracle comment), every get event must surface, and no key may be
    lost. One summary row; violations must be 0. Upgrades PARITY row 19's
    finite wall-clock path from slow local test to driver-pinned.

    Runs on the shared dual-binding drain (``_wallclock_kv_drained``): the
    'fin' binding runs the UNCHANGED finite-strict production fold
    — ``setTimeoutDuration`` armed at 1 day on every access, strict
    read-side elapsed check, ``ProcessingTimeTimeout`` conf — exactly the
    lifecycle a solo drain runs; only the drain's fixed micro-batch
    infrastructure is shared. 16 tuned state partitions (VERDICT r05 #4 /
    r08 #3): this drain's cost is per-key Python kernel invocations, not
    data.
    """
    _assert_event_id_ts_monotone(spark, sf_dir, scope="global")
    wall = _get_outcome_summary(
        _binding_outcomes(_wallclock_kv_drained(spark, sf_dir), "fin")
    )
    fold = _batch_kv_fold_bounds(spark, sf_dir, _WALL_FINITE_TTL_SECS, ["seq"])
    j = wall.join(fold, "key", "full_outer")
    violated = F.coalesce(
        (F.col("n_gets") != F.col("b_gets"))
        | (F.col("n_hits") != F.col("up_hits"))
        | (F.col("sum_hit_values") != F.col("up_sum")),
        F.lit(True),
    )
    return j.agg(
        F.count("*").alias("n_keys"),
        F.sum("b_gets").alias("n_get_events"),
        F.sum("up_hits").alias("expected_hits"),
        F.sum(violated.cast("int")).cast("long").alias("n_violation_keys"),
    )


@register(
    "streaming_global_limit",
    oracle="""
    SELECT CAST(least(1000, count(*)) AS BIGINT) AS n_rows FROM events
    """,
)
def streaming_global_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global limit (SURVEY.md §2.3 row 'Streaming global
    limit'): state = one running count. WHICH rows pass is arrival-order
    dependent, so the catalog entry exposes the deterministic part — the
    count — and the oracle checks least(n, total)."""
    events = read_stream(spark, sf_dir, "events")
    limited = events.limit(1000)
    out = run_stream_to_table(limited, output_mode="append", parts=STATE_PARTS)
    return out.agg(F.count("*").alias("n_rows"))


@register(
    "streaming_minhash_band_dedup",
    # Shared fast CTE (hashes.py::duck_minhash_cte — same signature family
    # as the batch dedup oracles; the old inline comprehension form cost
    # ~33 s at sf0.1, VERDICT r06 #1).
    oracle=f"""
    WITH {duck_minhash_cte(16, 4, 4, 3)}
    SELECT DISTINCT bh AS band_hash FROM bands
    """,
)
def streaming_minhash_band_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FUZZY dedup: MinHash band fingerprints streamed through
    ``dropDuplicates`` — the LSH twin of streaming_doc_dedup, and the
    scale recipe for near-dup filtering of an incoming corpus (state =
    seen band hashes in RocksDB; with a TTL/watermark it becomes a
    bounded sliding dedup window).

    Streaming constraint drives the shape: the batch signature uses a
    groupBy (functions/dedup.py), but an aggregation cannot precede
    dropDuplicates in an append stream — so the signature is one
    aggregation-free JVM expression chain (whole-stage codegen, zero
    Python in the hot path): tokenize → *repartition barrier* → shingle →
    md5-once-per-shingle → ``spark_minhash_fold`` (see functions/hashes.py
    for why a fold, not the transform-of-transforms form), then
    ``explode`` over the band index — a Generate node, i.e. a
    CollapseProject barrier — so the sig is materialized once per doc
    before the 4 per-band projections read slices of it. The only
    stateful operator is the dedup itself.

    The repartition after tokenization is load-bearing, not cosmetic: the
    shingle lambda's bound (and slices) reference ``toks``, and without a
    barrier CollapseProject inlines the regexp+split expression into the
    per-element lambda — re-tokenizing the document once PER SHINGLE
    (measured ~5× the whole query's steady-state cost at sf0.1). The
    Exchange materializes ``toks`` as a column once per doc; its shuffle
    payload (the token arrays) is what the next stage needs anyway.
    """
    from ..functions.hashes import (
        SPARK_TOKS,
        spark_h32,
        spark_minhash_fold,
        spark_shingles,
    )

    toks = SPARK_TOKS.format(col="text")
    shh = f"transform({spark_shingles('toks', 3)}, s -> {spark_h32('s')})"
    sig = spark_minhash_fold(shh, 16)
    docs = read_stream(spark, sf_dir, "documents")
    bands = (
        docs.selectExpr("doc_id", f"{toks} AS toks")
        # By expression, so Spark sizes the Exchange from the query's own
        # shuffle-partition conf when it plans each micro-batch.
        .repartition("doc_id")
        # < 3 tokens → no 3-gram shingles; the oracle's len(sh) > 0 filter.
        .filter(F.expr("size(toks) >= 3"))
        .selectExpr(f"{sig} AS sig")
        .select(F.expr("explode(sequence(0, 3))").alias("b"), "sig")
        .selectExpr(
            "md5(concat(cast(b as string), '|', concat_ws(',', "
            "transform(slice(sig, b * 4 + 1, 4), x -> cast(x as string))))) "
            "AS band_hash"
        )
    )
    dd = bands.dropDuplicates(["band_hash"])
    return run_stream_to_table(dd, output_mode="append", parts=STATE_PARTS)


# --- streaming materialized views: CDC upsert + windowed top-k --------------


@register(
    "streaming_cdc_upsert",
    oracle="""
    WITH m AS (
      SELECT user_id,
             max(struct_pack(ts := epoch_ns(ts) // 1000,
                             event_id := event_id,
                             event_type := event_type,
                             value := value)) AS m
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           m.ts AS last_ts_us,
           m.event_id AS last_event_id,
           m.event_type AS last_event_type,
           m.value AS last_value
    FROM m
    """,
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-wins upsert view: one current row per user_id,
    maintained incrementally across micro-batches in UPDATE mode — the
    streaming twin of the batch ``cdc_upsert_latest`` compaction and the
    canonical "materialized view over a change feed" use of keyed state
    (each user's state row is exactly the reference's key→value entry,
    overwritten per batch — StateStore.put, Provider.scala:152-162).

    No watermark on purpose: upsert state must never expire, so state size
    = key cardinality (bounded by the user population, not the stream
    length) — the acceptable-state-growth case. For unbounded key spaces
    the TTL kernels (streaming/ttl.py) bound it instead. The running
    ``max(struct(ts, event_id, ...))`` is nondecreasing per key, so the
    sink's final row per user = max over all its emitted updates.
    """
    from ..sources import chunked_stream

    # 4 chunks (halve-batches, VERDICT r05 #4): the running max per key
    # is associative and chunk-count independent; 4 batches keep real
    # multi-batch incremental upserts at half the fixed commit cost.
    ev = chunked_stream(spark, sf_dir, "events", n_chunks=4)
    agg = ev.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.unix_micros("ts").alias("ts"),
                "event_id",
                "event_type",
                "value",
            )
        ).alias("m")
    )
    out = run_stream_to_table(agg, output_mode="update", parts=STATE_PARTS)
    fin = out.groupBy("user_id").agg(F.max("m").alias("m"))
    return fin.select(
        "user_id",
        F.col("m.ts").alias("last_ts_us"),
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.event_type").alias("last_event_type"),
        F.col("m.value").alias("last_value"),
    )


@register(
    "streaming_topk_per_day",
    oracle="""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT day, event_type, n_events,
             row_number() OVER (PARTITION BY day
                                ORDER BY n_events DESC, event_type) AS rnk
      FROM daily
    )
    SELECT day, event_type, n_events, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def streaming_topk_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the 3 most frequent event types per day, over
    daily tumbling windows maintained in UPDATE mode with watermark
    eviction (closed days leave the RocksDB store), then ranked.

    Ranking is NOT a streaming operation (Spark disallows windows over
    update streams — rank flaps as counts grow); the production recipe is
    exactly this split: incremental windowed counts in state, top-k as a
    trivial post-pass over the drained per-day aggregate (≤ types×days
    rows), here a rank window partitioned by day. Counts are integers and
    ties break on event_type, so the ranking is deterministic across
    engines.
    """
    from ..sources import chunked_stream
    from .windows import windowed_counts

    # 4 chunks (halve-batches, VERDICT r05 #4): update-mode daily
    # counts canonicalize by max-per-window, chunk-count independent;
    # 3 watermark advances keep real closed-day eviction.
    agg = windowed_counts(
        chunked_stream(spark, sf_dir, "events", n_chunks=4), "1 day"
    )
    out = run_stream_to_table(agg, output_mode="update", parts=STATE_PARTS)
    fin = out.groupBy("window_start", "event_type").agg(
        F.max("n_events").alias("n_events")
    )
    from pyspark.sql import Window as W

    day = fin.select(
        F.substring("window_start", 1, 10).alias("day"), "event_type", "n_events"
    )
    w = W.partitionBy("day").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        day.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "streaming_quality_audit",
    oracle="""
    WITH one AS (
      SELECT
        CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(sum(CASE WHEN event_type NOT IN
          ('click', 'view', 'purchase', 'signup', 'error') THEN 1 ELSE 0 END)
          AS BIGINT) AS c2,
        CAST(count(*) AS BIGINT) AS c3
      FROM events
    )
    SELECT 'value_negative' AS check_name, c0 AS n FROM one
    UNION ALL SELECT 'user_id_null', c1 FROM one
    UNION ALL SELECT 'event_type_invalid', c2 FROM one
    UNION ALL SELECT 'rows_seen', c3 FROM one
    """,
)
def streaming_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality audit over the event stream: per-check
    violation counters maintained incrementally in UPDATE mode — the
    streaming face of the batch audit family (operators/quality.py),
    gating an ingest pipeline while it runs instead of after it lands.

    State is exactly |checks| rows (a keyed counter per check name — the
    minimal possible keyed-state use), updated per micro-batch via
    map-side partial sums. Counters grow monotonically, so the drained
    final value per check = max over its emitted updates.
    """
    from ..sources import chunked_stream

    # 4 chunks (r07): counters are monotone and the drained value is
    # max-over-updates, so the result is chunk-count-independent.
    ev = chunked_stream(spark, sf_dir, "events", n_chunks=4)
    checks = ev.select(
        F.when(F.col("value") < 0, 1).otherwise(0).alias("value_negative"),
        F.when(F.col("user_id").isNull(), 1).otherwise(0).alias("user_id_null"),
        F.when(
            # The fixture's real domain — 'signup', not 'login'
            # (a stale list silently misclassified every signup as
            # invalid while the oracle mirrored the same mistake).
            ~F.col("event_type").isin(
                "click", "view", "purchase", "signup", "error"
            ),
            1,
        )
        .otherwise(0)
        .alias("event_type_invalid"),
        F.lit(1).alias("rows_seen"),
    )
    counts = checks.agg(
        F.sum("value_negative").cast("bigint").alias("c0"),
        F.sum("user_id_null").cast("bigint").alias("c1"),
        F.sum("event_type_invalid").cast("bigint").alias("c2"),
        F.count("*").alias("c3"),
    )
    long = counts.selectExpr(
        "stack(4, 'value_negative', c0, 'user_id_null', c1, "
        "'event_type_invalid', c2, 'rows_seen', c3) AS (check_name, n)"
    )
    out = run_stream_to_table(long, output_mode="update", parts=STATE_PARTS)
    return out.groupBy("check_name").agg(F.max("n").alias("n"))


# --- streaming funnel: per-user stage progression as arbitrary state --------

# Composite arrival key: strictly increasing, collision-free within the
# fixture (event_id < 10^6 at every SF; a production pipeline widens this to
# a struct or a 128-bit key). Arrival order of the chunked replay ==
# (ts, event_id) order, so "first eligible event after the previous stage"
# is deterministic and equals the batch min-over-k fold the oracle runs.
# The event_id < 10^6 assumption is ENFORCED, not assumed (ADVICE r04): the
# inline assert_true fails the job loudly if an event_id ever bleeds into
# the next second's keyspace instead of silently corrupting replay order.
_FUNNEL_STAGES = {"view": 1, "signup": 2, "purchase": 3}


from pyspark.sql import types as _T

FUNNEL_OUT_SCHEMA = _T.StructType(
    [
        _T.StructField("user_id", _T.LongType()),
        _T.StructField("stage", _T.IntegerType()),
    ]
)
# Per-slot arrival keys as UNCAPPED (t, e) = (epoch seconds, event_id)
# pairs, ordered lexicographically. Through r07 each slot packed the pair
# into one bigint (t*1e6 + e), which caps event_id at 1e6 — the r08 100x
# scale probe tripped that assert on its first run (10 M synthetic ids),
# and production snowflake-style ids (~1e18) never fit any packing. The
# kernel now compares pairs; nothing about the arrival-order contract
# changes (see the replay-order guard note on _funnel_transitions).
FUNNEL_STATE_SCHEMA = _T.StructType(
    [
        _T.StructField(f, _T.LongType())
        for f in ("t1", "e1", "t2", "e2", "t3", "e3")
    ]
)


def _funnel_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE funnel stream: chunked replay -> stage filter -> composite key ->
    ``funnel_kernel`` under ``applyInPandasWithState``. One builder shared
    by ``streaming_funnel_stages`` and ``funnel_state_scan`` so the stage
    counter and the offline state scan always describe the same pipeline
    (n_chunks, filter, key spelling and partitioning included).

    Replay-order guard: the kernel's cross-batch "first eligible" fold is
    correct iff lexicographic (t, e) order equals the chunked (ts,
    event_id) arrival order — which, t having only SECOND resolution,
    requires event_id to be ts-monotone WITHIN each second. The fixtures
    satisfy this; _assert_event_id_ts_monotone fails loudly if a
    regeneration stops satisfying it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..sources import chunked_stream

    _assert_event_id_ts_monotone(spark, sf_dir)
    # Stage id mapped to an int JVM-SIDE before the stateful operator
    # (r10 100× profile, BASELINE.md): shipping a string event_type
    # through Arrow made every per-group mask an object-dtype comparison
    # and fattened the batches — the int mapping alone cut the 100× entry
    # time 35.2 s → 25.9 s, and combined with input-scaled partitions
    # 35.2 s → 18.0 s.
    stage_col = F.lit(None).cast("int")
    for name, stage in sorted(_FUNNEL_STAGES.items(), key=lambda kv: -kv[1]):
        stage_col = F.when(F.col("event_type") == name, stage).otherwise(
            stage_col
        )
    events = (
        chunked_stream(spark, sf_dir, "events", n_chunks=2)
        .where(F.col("event_type").isin(*_FUNNEL_STAGES))
        .select(
            "user_id",
            stage_col.alias("stage"),
            F.unix_timestamp("ts").alias("t"),
            F.col("event_id").alias("e"),
        )
    )
    return events.groupBy("user_id").applyInPandasWithState(
        funnel_kernel,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# One funnel drain serving both funnel entries (VERDICT r05 #4): the drained
# stream is a MATERIALIZED VIEW — `streaming_funnel_stages` consumes its sink
# and `funnel_state_scan` its RocksDB checkpoint, and both describe the same
# pipeline by construction (_funnel_transitions), so re-ingesting the stream
# per entry was pure duplicate micro-batch infrastructure. Shared under the
# "funnel" lifetime tag per (application, fixture dir, fixture content
# identity), so a new session or a regenerated fixture re-drains; the
# sink's blocks and the checkpoint both live until the tag's release.


def _funnel_drained(spark: SparkSession, sf_dir: str):
    """Drain the funnel once per (session, fixture generation); returns
    ``(sink_df, checkpoint_dir)``."""
    from .runner import auto_checkpoint_dir

    def drain():
        ckpt = auto_checkpoint_dir("funnel_drain")
        # 16 state partitions at fixture scale (100x sf0.1 profile: with
        # the int-stage kernel, one per core at 32 parts cut the entry
        # 25.9 s -> 18.0 s).
        sink = run_stream_to_table(
            _funnel_transitions(spark, sf_dir),
            output_mode="append",
            checkpoint_location=ckpt,
            parts=16,
            input_rows=_event_rows(sf_dir),
        )
        return sink, ckpt

    return shared(spark, "funnel", fixture_key(sf_dir, "events"), drain)


SHARED_MEMOS.update(
    {
        "funnel": {"streaming_funnel_stages", "funnel_state_scan"},
        "wallclock_kv": {
            "keyed_state_wallclock_infinite",
            "keyed_state_wallclock_finite_bounds",
        },
        "virtual_kv": {
            "keyed_state_ttl_infinite",
            "keyed_state_ttl_strict",
            "keyed_state_ttl_stateless",
            "keyed_state_ttl_per_query",
            "keyed_state_ttl_lazy_bounds",
        },
        "interval_fo": {
            "streaming_interval_join_full_outer",
            "streaming_interval_join_left_outer",
            "streaming_interval_join_right_outer",
            "streaming_interval_join_left_semi",
        },
    }
)


_SEQ_ORDER_CHECKED: set = set()


def _assert_event_id_ts_monotone(
    spark: SparkSession, sf_dir: str, scope: str = "within_second"
) -> None:
    """Raise unless event_id order matches (ts, event_id) arrival order on
    the events fixture, at the strength the caller's fold actually needs
    (``chunked_stream`` chunks are contiguous in (ts, event_id), so chunk
    boundaries can only invert orders these checks would flag):

    - ``scope="within_second"``: within each second, event_id order must
      match micros order. Suffices for folds whose replay key carries the
      second — the funnel's lexicographic (sec, event_id) slot keys and
      the lazy-TTL bounds' (ts_s, seq) fold — and HOLDS on the adversarial
      funnel fixture, whose ids interleave across seconds but never invert
      within one.
    - ``scope="global"``: event_id must be ts-monotone over the whole
      table. Required by the wall-clock kernels, whose arrival fold orders
      by seq ALONE (wall-clock TTL ignores event time), so a mid-stream id
      inversion across a chunk boundary would silently reorder the fold.

    The driver fixtures' generator assigns event_id in timestamp order, so
    both hold there; the guard makes a regeneration (or a new fixture) that
    stops holding fail loudly instead of silently corrupting cross-batch
    fold order. Memoized per (fixture dir, scope), global satisfying
    within_second; two-column checks only, every window PARTITIONED (the
    global scope uses a bucketed range decomposition rather than a
    single-task global-order window) — a harness-side guard, not a
    data-path stage, and it must not itself be a scale bottleneck."""
    if (sf_dir, scope) in _SEQ_ORDER_CHECKED or (
        scope == "within_second" and (sf_dir, "global") in _SEQ_ORDER_CHECKED
    ):
        return
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    if scope == "within_second":
        w = Window.partitionBy(F.unix_timestamp("ts")).orderBy("event_id")
        bad = (
            ev.select(F.unix_micros("ts").alias("us"), "event_id", "ts")
            .withColumn("prev_us", F.lag("us").over(w))
            .where(F.col("prev_us") > F.col("us"))
            .count()
        )
    else:
        us_eid = ev.select(F.unix_micros("ts").alias("us"), "event_id")
        # Global monotonicity WITHOUT a global-order window (which would be
        # one task over the whole fixture): bucket event_id into contiguous
        # ranges, check (1) monotone within each bucket — a partitioned,
        # fully parallel window — and (2) bucket summaries don't overlap:
        # max(us) of bucket b ≤ min(us) of bucket b+1, a window over one
        # tiny aggregated row per bucket. (1) ∧ (2) ⟺ global monotone,
        # since event_id buckets are contiguous ranges. Arithmetic shift =
        # exact floor division by 2^16 in long arithmetic for EVERY int64
        # (ADVICE r06: the old double division lost exactness past 2^53,
        # where a boundary id could land in the wrong bucket).
        bucket = F.shiftright(F.col("event_id"), 16)
        b = us_eid.withColumn("bucket", bucket)
        w_in = Window.partitionBy("bucket").orderBy("event_id")
        bad_within = (
            b.withColumn("prev_us", F.lag("us").over(w_in))
            .where(F.col("prev_us") > F.col("us"))
            .count()
        )
        summaries = b.groupBy("bucket").agg(
            F.min("us").alias("lo"), F.max("us").alias("hi")
        )
        w_cross = Window.orderBy("bucket")
        bad_cross = (
            summaries.withColumn("prev_hi", F.lag("hi").over(w_cross))
            .where(F.col("prev_hi") > F.col("lo"))
            .count()
        )
        bad = bad_within + bad_cross
    if bad:
        raise AssertionError(
            f"events fixture: {bad} event_id-adjacent pairs ({scope}) have "
            "inverted timestamps — event_id no longer reproduces (ts, "
            "event_id) arrival order at the strength this fold's replay "
            "key assumes (funnel/TTL-bounds composite keys, wall-clock seq "
            "folds); widen the key to a microsecond struct"
        )
    _SEQ_ORDER_CHECKED.add((sf_dir, scope))


def funnel_kernel(key, pdfs, state):
    """Per-user funnel stage record: three (t, e) arrival-key slots, each
    filling at most once, in lexicographic-key order — shared by the
    catalog entry and the checkpoint-recovery test (tests/test_recovery.py).

    Vectorized (VERDICT r04 #5): each slot is a masked numpy lexicographic
    min over the batch's (t, e) pairs instead of a per-row Python fold —
    the fold's sequential dependency survives as three ordered fills (a
    later slot's candidates are filtered strictly-after the earlier slot's
    pair), which is exactly the min-over-k chain the DuckDB oracle runs.
    No sort needed: min is order-free, and the strictly-after filters
    encode the arrival-order contract under the time-ordered chunked
    replay. Pairs, not a packed bigint (r08): packing capped event_id at
    1e6 — the 100x scale probe tripped it; int64 pairs hold any id.

    Per-call overhead trimmed (VERDICT r05 #4 — the entry's cost is per-key
    kernel invocations, not kernel arithmetic): a COMPLETE funnel (all
    three slots filled) returns before touching pandas/numpy — in a
    multi-batch replay most users complete in batch 1, so later batches
    pay only the state round-trip — and the common single-Arrow-chunk
    input skips the concat copy.
    """
    import pandas as _pd

    t1, e1, t2, e2, t3, e3 = (
        state.get if state.exists else (None,) * 6
    )
    if t3 is not None:
        # Nothing can ever be emitted again; keep the record as-is.
        state.update((t1, e1, t2, e2, t3, e3))
        return
    out = []
    chunks = list(pdfs)
    rows = chunks[0] if len(chunks) == 1 else _pd.concat(chunks)
    uid = int(key[0])
    # Int stage ids (r10): the caller maps event_type -> stage JVM-side
    # (_funnel_transitions); int masks beat object-dtype string compares
    # ~26% on the whole 100x entry. dtype pinned like the TTL kernels'.
    st = rows["stage"].to_numpy(dtype="int64")
    ts = rows["t"].to_numpy(dtype="int64")
    es = rows["e"].to_numpy(dtype="int64")

    def lexmin(mask):
        """Lexicographic min (t, e) among masked rows, or None."""
        if not mask.any():
            return None
        tm, em = ts[mask], es[mask]
        t_min = tm.min()
        return int(t_min), int(em[tm == t_min].min())

    def after(mask, t0, e0):
        """Strictly after (t0, e0) in lexicographic order."""
        return mask & ((ts > t0) | ((ts == t0) & (es > e0)))

    if t1 is None:
        got = lexmin(st == 1)
        if got is not None:
            t1, e1 = got
            out.append((uid, 1))
    if t1 is not None and t2 is None:
        got = lexmin(after(st == 2, t1, e1))
        if got is not None:
            t2, e2 = got
            out.append((uid, 2))
    if t2 is not None and t3 is None:
        got = lexmin(after(st == 3, t2, e2))
        if got is not None:
            t3, e3 = got
            out.append((uid, 3))
    state.update((t1, e1, t2, e2, t3, e3))
    if out:
        yield _pd.DataFrame(out, columns=["user_id", "stage"])


@register(
    "streaming_funnel_stages",
    oracle=f"""
    WITH ops AS (
      -- 1e9 multiplier (ADVICE r10 / behavior.py convention): k is an
      -- ORDERING key only here (the output is stage counts), and the
      -- kernel it validates orders by true lexicographic (ts, event_id)
      -- tuples — a 1e6 pack would silently diverge from it on the sf>=10
      -- fixtures whose event_id exceeds 1e6. epoch_s * 1e9 + 1e9 still
      -- fits int64. (funnel_state_scan deliberately keeps 1e6: its
      -- OUTPUT is the packed display encoding, assert_true-guarded.)
      -- The kernel itself holds UNCAPPED (t, e) pairs, so the pack's own
      -- bound is guarded loudly: an id outside [0, 1e9) errors the
      -- oracle instead of silently reordering the key (the same
      -- fail-loud contract as funnel_state_scan's display guard).
      SELECT user_id, event_type,
             CASE WHEN event_id IS NULL OR event_id < 0
                       OR event_id >= 1000000000
                  THEN error('streaming_funnel_stages oracle: event_id '
                             || 'outside [0, 1e9) breaks the packed '
                             || 'ordering key')
                  ELSE epoch_ns(ts) // 1000000000 * 1000000000 + event_id
             END AS k
      FROM events
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN k END)
                  OVER (PARTITION BY user_id) AS k1
      FROM ops
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'signup' AND k > k1 THEN k END)
                  OVER (PARTITION BY user_id) AS k2
      FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND k > k2 THEN k END)
                  OVER (PARTITION BY user_id) AS k3
      FROM s2
    ),
    per_user AS (
      SELECT user_id, max(k1) AS k1, max(k2) AS k2, max(k3) AS k3
      FROM s3 GROUP BY user_id
    )
    SELECT CAST(1 AS INT) AS stage,
           CAST(count(k1) AS BIGINT) AS n_users FROM per_user
    UNION ALL
    SELECT CAST(2 AS INT), CAST(count(k2) AS BIGINT) FROM per_user
    UNION ALL
    SELECT CAST(3 AS INT), CAST(count(k3) AS BIGINT) FROM per_user
    """,
)
def streaming_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming conversion funnel as ARBITRARY KEYED STATE: per user, a
    3-slot stage record (first view → first signup after it → first
    purchase after that) advances monotonically across micro-batches; each
    stage transition is emitted exactly once (append-safe by construction —
    a slot fills at most once per user, ever).

    This is the stateful-materialized-view face of the batch
    ``funnel_view_signup_purchase``: the reference's keyed state store is
    exactly what holds the per-user (k1, k2, k3) record between batches
    (state = 3 longs per ACTIVE user — bounded by population, not stream
    length; a production variant adds the wall-clock TTL kernel's timeout
    to retire abandoned funnels, which is the reference's TTL use case
    verbatim, README.md:34-49).

    The time-ordered chunked replay makes cross-batch determinism exact:
    arrival order == (ts, event_id) order == the composite-key order the
    DuckDB oracle folds over, so the drained stage counts value-match the
    batch window SQL.
    """
    # 2 time-ordered chunks + 16 state partitions: this query's cost is
    # per-(batch x partition) Python worker round-trips, NOT data
    # (sf0.1 sweep: 8 chunks/4 parts = 12.1 s, 4/4 = 6.1, 4/8 = 5.1,
    # 2/8 = 3.1, 2/16 = 2.9 — more partitions parallelize the per-key
    # kernel calls, fewer batches cut the fixed replay cost). Two
    # batches still exercise real cross-batch state handoff; the
    # adversarial handoff cases live in tests/test_behavior.py.
    # Funnel-irrelevant event types are dropped BEFORE the stateful
    # operator, so the state op sees 60% of the stream and the filter
    # runs JVM-side at the scan. The drain itself is shared with
    # funnel_state_scan (_funnel_drained — one ingest, two readers).
    drained, _ckpt = _funnel_drained(spark, sf_dir)
    counts = drained.groupBy("stage").agg(F.count("*").alias("cnt"))
    # The oracle emits a row per stage even when its count is 0; a bare
    # groupBy would drop empty stages, so anchor on a literal 3-row
    # stage frame.
    stages = spark.createDataFrame(
        [(s,) for s in sorted(_FUNNEL_STAGES.values())], "stage int"
    )
    return stages.join(counts, "stage", "left").select(
        "stage", F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("n_users")
    )


@register(
    "streaming_ohlc_update",
    oracle="""
    WITH k AS (
      SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
             (epoch_ns(ts) // 1000 % 86400000000) * 10000000 + event_id AS seq,
             value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(day AS BIGINT) AS day,
           arg_min(value, seq) AS open,
           CAST(max(value) AS DOUBLE) AS high,
           CAST(min(value) AS DOUBLE) AS low,
           arg_max(value, seq) AS close,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM k GROUP BY day
    """,
)
def streaming_ohlc_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OHLC rollup (``ohlc_daily_bars``) as a LIVE update-mode streaming
    materialized view: daily bars maintained incrementally in keyed state —
    min_by/max_by/min/max/count all merge associatively, so each
    micro-batch folds into the bar without reprocessing the day — with the
    watermark evicting closed days from the RocksDB store. Same
    canonicalization as ``streaming_hourly_agg_update``: a day's trade
    count grows strictly across its updates, so max-by-n_trades picks each
    bar's final state, which the batch OHLC oracle then value-checks.

    4 time-ordered chunks (VERDICT r05 #4, the chained-agg precedent): the
    aggregation is all JVM built-ins, so this entry's cost is micro-batch ×
    state-partition fixed infrastructure, not data — halving the replay
    from 8 batches keeps 3 mid-stream watermark advances (real multi-batch
    incremental folding + closed-day eviction) at half the fixed cost.
    """
    from ..sources import chunked_stream

    ev = (
        chunked_stream(spark, sf_dir, "events", n_chunks=4)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
    )
    seq = (
        F.expr("(unix_micros(ts) % 86400000000) * 10000000")
        + F.col("event_id")
    ).alias("seq")
    ev = ev.select("ts", seq, "value")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.min_by("value", "seq").alias("open"),
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.max_by("value", "seq").alias("close"),
        F.count("*").alias("n_trades"),
    )
    day = (F.unix_timestamp(F.col("w.start")) / 86400).cast("long")
    out = run_stream_to_table(
        agg.select(day.alias("day"), "open", "high", "low", "close", "n_trades"),
        output_mode="update",
        parts=STATE_PARTS,
    )
    return (
        out.groupBy("day")
        .agg(F.max(F.struct("n_trades", "open", "high", "low", "close")).alias("fin"))
        .select(
            "day",
            F.col("fin.open").alias("open"),
            F.col("fin.high").alias("high"),
            F.col("fin.low").alias("low"),
            F.col("fin.close").alias("close"),
            F.col("fin.n_trades").alias("n_trades"),
        )
    )


@register(
    "funnel_state_scan",
    # The committed per-user (k1, k2, k3) state records ARE the batch fold:
    # the oracle computes the same chained-min composite keys and compares
    # them against the offline state scan — StateStore.iterator parity
    # (RocksDbStateStoreProvider.scala:244-277) for PYTHON arbitrary state.
    oracle="""
    WITH ops AS (
      -- same event-type filter the stream applies: a user with ONLY other
      -- event types never reaches the kernel, so holds no state record.
      -- The 1e6 pack is DELIBERATE here (not the 1e9 ordering convention):
      -- this oracle's OUTPUT is compared against the state scan's packed
      -- t*1e6+e display encoding, whose assert_true guard fails loudly on
      -- any event_id outside [0, 1e6) — so an out-of-range id can produce
      -- a loud error or hash mismatch, never a silent wrong pass.
      SELECT user_id, event_type,
             epoch_ns(ts) // 1000000000 * 1000000 + event_id AS k
      FROM events
      WHERE event_type IN ('view', 'signup', 'purchase')
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN k END)
                  OVER (PARTITION BY user_id) AS k1
      FROM ops
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'signup' AND k > k1 THEN k END)
                  OVER (PARTITION BY user_id) AS k2
      FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND k > k2 THEN k END)
                  OVER (PARTITION BY user_id) AS k3
      FROM s2
    )
    SELECT user_id, max(k1) AS k1, max(k2) AS k2, max(k3) AS k3
    FROM s3 GROUP BY user_id
    """,
)
def funnel_state_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline scan of the streaming funnel's ARBITRARY PYTHON STATE: run
    the funnel to completion, then read its per-user (k1, k2, k3) records
    straight out of the RocksDB checkpoint with the state data source —
    no re-run, no sink involved. The oracle recomputes the same records as
    a batch fold, so the driver value-checks what the state store actually
    holds — extending the ``state_store_scan`` parity row (reference
    ``StateStore.iterator``) from built-in aggregation state to
    applyInPandasWithState state.

    The drain is shared with ``streaming_funnel_stages`` via
    ``_funnel_drained`` (one ingest, two readers — the sink for the stage
    counter, the checkpoint for this scan); within one session/fixture the
    second entry reads the already-committed state instead of re-running
    the stream, which is exactly how an offline state inspection behaves
    against a production checkpoint.

    Output encoding: the ENGINE state is uncapped (t, e) pairs (r08,
    FUNNEL_STATE_SCHEMA note); this scan reports each slot in the
    oracle's packed spelling t*1e6 + e, which is faithful exactly when
    event_id < 1e6 — true of every driver fixture, and asserted loudly in
    the projection so an out-of-range id can never silently corrupt the
    comparison (a deployment inspecting arbitrary-id state reads the
    pairs directly instead).
    """
    from .state_reader import read_state

    _sink, ckpt = _funnel_drained(spark, sf_dir)
    st = read_state(spark, ckpt)

    def packed(slot: int):
        t, e = f"value.groupState.t{slot}", f"value.groupState.e{slot}"
        return F.expr(
            f"{t} * 1000000 + {e} + coalesce(cast(assert_true("
            f"{e} IS NULL OR ({e} >= 0 AND {e} < 1000000), "
            f"'funnel scan packed-key display: event_id outside [0, 1e6); "
            f"read the (t, e) state pairs directly') AS BIGINT), 0)"
        ).alias(f"k{slot}")

    return st.select(
        F.col("key.user_id").alias("user_id"), packed(1), packed(2), packed(3)
    )
