"""TTL keyed-state kernel tests — PySpark mirror of the reference's
``RocksDbStateTimeoutSuite`` (and the versioned-recovery behavior of
``RocksDbStateStoreProviderSuite``).

Micro-batches are driven deterministically: each batch is one parquet file
(maxFilesPerTrigger=1, mtimes force the order), time is the virtual
``ts_s`` column — the FakeTicker lesson from the reference's tests, no
wall-clock sleeps anywhere.
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
import pytest

from spark_states_spark.config import TtlConfig, expiration_by_query, resolve_ttl
from spark_states_spark.streaming.ttl import (
    OPS_SCHEMA,
    _virtual_kernel,
    _wallclock_kernel,
    ttl_kv_ops,
)


def _write_batches(tmp_path, batches) -> str:
    """Write each batch (list of (key, op, value, ts_s)) as one parquet file
    with strictly increasing mtime so the file source replays them in order."""
    d = tmp_path / f"ops_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    base = time.time() - 1000
    for i, batch in enumerate(batches):
        pdf = pd.DataFrame(
            [
                {"key": k, "op": op, "value": v, "ts_s": ts, "seq": j}
                for j, (k, op, v, ts) in enumerate(batch)
            ]
        )
        pdf["value"] = pd.array(pdf["value"], dtype="Int64")
        pdf["ts_s"] = pdf["ts_s"].astype("int64")
        pdf["seq"] = pdf["seq"].astype("int64")
        p = str(d / f"batch_{i:03d}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (base + i, base + i))
    return str(d)


def _run(spark, src_dir: str, ttl: TtlConfig, checkpoint: str):
    stream = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = ttl_kv_ops(stream, ttl)
    name = f"ttl_{uuid.uuid4().hex[:10]}"
    collected: list = []

    # foreachBatch (not the memory sink): supports checkpoint recovery,
    # which the restart test depends on.
    def sink(df, _epoch):
        collected.extend(df.collect())

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(sink)
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {(r.key, r.ts_s): (r.found, r.value) for r in collected}


def test_no_timeout_keeps_state_forever(spark, tmp_path):
    """ttl=-1 → infinite state (reference suite 'no timeout')."""
    src = _write_batches(
        tmp_path,
        [
            [("a", "put", 1, 0)],
            [("a", "get", None, 1_000_000)],
        ],
    )
    res = _run(
        spark, src, TtlConfig("q", -1, strict=True), str(tmp_path / "ckpt")
    )
    assert res[("a", 1_000_000)] == (True, 1)


def test_stateless_mode(spark, tmp_path):
    """ttl=0 → every put immediately invisible (reference 'statelessness')."""
    src = _write_batches(
        tmp_path,
        [
            [("a", "put", 1, 0), ("a", "get", None, 0)],
            [("a", "get", None, 1)],
        ],
    )
    res = _run(
        spark, src, TtlConfig("q", 0, strict=True), str(tmp_path / "ckpt")
    )
    assert res[("a", 0)] == (False, None)
    assert res[("a", 1)] == (False, None)


def test_processing_timeout_expires(spark, tmp_path):
    """ttl=3: alive before the deadline, gone after (reference
    'processing timeout')."""
    src = _write_batches(
        tmp_path,
        [
            [("k1", "put", 7, 0)],
            [("k1", "get", None, 2)],   # alive (2 < 3)
            [("k1", "get", None, 10)],  # 8s since last access → expired
        ],
    )
    res = _run(
        spark, src, TtlConfig("q", 3, strict=True), str(tmp_path / "ckpt")
    )
    assert res[("k1", 2)] == (True, 7)
    assert res[("k1", 10)] == (False, None)


def test_ttl_resets_on_get_set_update_strict(spark, tmp_path):
    """Strict mode: every get/put touch extends the deadline (reference
    'ttl should reset on get, set and update')."""
    src = _write_batches(
        tmp_path,
        [
            [("k", "put", 1, 0)],
            [("k", "get", None, 2)],   # reset → deadline 5
            [("k", "get", None, 4)],   # reset → deadline 7
            [("k", "put", 2, 6)],      # update resets → deadline 9
            [("k", "get", None, 8)],   # alive, value 2
            [("k", "get", None, 20)],  # 12s gap → expired
        ],
    )
    res = _run(
        spark, src, TtlConfig("q", 3, strict=True), str(tmp_path / "ckpt")
    )
    assert res[("k", 2)] == (True, 1)
    assert res[("k", 4)] == (True, 1)
    assert res[("k", 8)] == (True, 2)
    assert res[("k", 20)] == (False, None)


def test_non_strict_lazy_expiry_serves_until_sweep(spark, tmp_path):
    """Non-strict: within a batch an expired key may still be served (keys
    live ≥ ttl — TtlDB compaction model); the batch-end sweep drops it, and
    reads do NOT extend the update-based clock."""
    src = _write_batches(
        tmp_path,
        [
            # same batch: put at 0, get at 10 with ttl=3 → lazily served
            [("k", "put", 5, 0), ("k", "get", None, 10)],
            # next batch (after sweep): gone
            [("k", "get", None, 11)],
        ],
    )
    res = _run(
        spark, src, TtlConfig("q", 3, strict=False), str(tmp_path / "ckpt")
    )
    assert res[("k", 10)] == (True, 5)
    assert res[("k", 11)] == (False, None)


def test_strict_expiry_exact_within_batch(spark, tmp_path):
    """Strict: the same in-batch late read misses (cache consulted on get,
    Provider.scala:139-146)."""
    src = _write_batches(
        tmp_path,
        [[("k", "put", 5, 0), ("k", "get", None, 10)]],
    )
    res = _run(
        spark, src, TtlConfig("q", 3, strict=True), str(tmp_path / "ckpt")
    )
    assert res[("k", 10)] == (False, None)


def test_remove_drops_key(spark, tmp_path):
    src = _write_batches(
        tmp_path,
        [
            [("k", "put", 9, 0)],
            [("k", "remove", None, 1)],
            [("k", "get", None, 2)],
        ],
    )
    res = _run(
        spark, src, TtlConfig("q", -1, strict=True), str(tmp_path / "ckpt")
    )
    assert res[("k", 2)] == (False, None)


def test_state_survives_checkpoint_restart(spark, tmp_path):
    """Versioned recovery: a second run over the same checkpoint resumes
    from committed state (reference 'Snapshotting'/getStore contract)."""
    ttl = TtlConfig("q", -1, strict=True)
    ckpt = str(tmp_path / "ckpt")
    src = _write_batches(tmp_path, [[("a", "put", 42, 0)]])
    _run(spark, src, ttl, checkpoint=ckpt)
    # append a new micro-batch file, restart with the same checkpoint
    pdf = pd.DataFrame(
        [{"key": "a", "op": "get", "value": None, "ts_s": 5, "seq": 0}]
    )
    p = os.path.join(src, "batch_999.parquet")
    pdf.to_parquet(p)
    os.utime(p, (time.time(), time.time()))
    res = _run(spark, src, ttl, checkpoint=ckpt)
    assert res[("a", 5)] == (True, 42)


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-driving a kernel directly."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = ms


def _fake_clock(monkeypatch) -> dict:
    """Pin the kernels' wall clock to ``clock["now"]`` seconds."""
    import spark_states_spark.streaming.ttl as ttl_mod

    clock = {"now": 1_000.0}
    monkeypatch.setattr(ttl_mod.time, "time", lambda: clock["now"])
    return clock


def _run_wall_batch(kernel, state, ops):
    """One data batch of (key, op, value) ops through a wall-clock kernel."""
    pdf = pd.DataFrame(
        [{"key": k, "op": op, "value": v, "seq": i} for i, (k, op, v) in enumerate(ops)]
    )
    return [r for out in kernel(("a",), iter([pdf]), state) for r in out.itertuples()]


def _fire(kernel, state) -> None:
    """One engine timeout: no data, ``hasTimedOut`` set."""
    state.hasTimedOut, state.timeout_set_ms = True, None
    assert list(kernel(("a",), iter([]), state)) == []
    state.hasTimedOut = False


def test_wallclock_timeout_drops_only_elapsed_bindings(monkeypatch):
    """Timeout path of the wall-clock kernel: a fire drops each finite
    binding whose own elapsed time reached its ttl, keeps the others, and
    re-arms the least remaining time; an early fire (elapsed < ttl) keeps
    the key — also in the one-binding case — and re-arms the remainder."""
    clock = _fake_clock(monkeypatch)
    kernel = _wallclock_kernel(
        {
            "fast": TtlConfig("fast", 2, strict=True),
            "slow": TtlConfig("slow", 5, strict=True),
            "inf": TtlConfig("inf", -1, strict=True),
        }
    )
    live, dead = (7, 1_000_000, True), (None, None, False)
    state = _FakeGroupState()
    _run_wall_batch(kernel, state, [("a", "put", 7)])
    assert state.timeout_set_ms == 2000

    clock["now"] = 1_001.5  # early fire: nothing elapsed yet
    _fire(kernel, state)
    assert state.get == live * 3  # slots in name order: fast, inf, slow
    assert state.timeout_set_ms == 500

    clock["now"] = 1_002.0  # +2 s: the 2 s binding goes
    _fire(kernel, state)
    assert state.get == dead + live + live
    assert state.timeout_set_ms == 3000

    clock["now"] = 1_005.0  # +5 s: the 5 s binding goes, inf never arms
    _fire(kernel, state)
    assert state.get == dead + live + dead
    assert state.timeout_set_ms is None

    rows = _run_wall_batch(kernel, state, [("a", "get", None)])
    assert {r.key: r.found for r in rows} == {
        "fast|a": False, "slow|a": False, "inf|a": True,
    }

    solo = _wallclock_kernel(TtlConfig("q", 5, strict=False))
    state, clock["now"] = _FakeGroupState(), 1_000.0
    _run_wall_batch(solo, state, [("a", "put", 7)])
    clock["now"] = 1_004.0
    _fire(solo, state)
    assert state.get == live and state.timeout_set_ms == 1000
    clock["now"] = 1_005.0
    _fire(solo, state)
    assert not state.exists


def test_null_key_get_keeps_a_null_key_under_named_bindings(monkeypatch):
    """The wall-clock kernel emits a null key's get outcomes with a null
    output key under a ``{name: TtlConfig}`` mapping, as under a bare
    TtlConfig and as SQL's ``concat('name|', NULL)`` is."""
    _fake_clock(monkeypatch)
    fast = TtlConfig("fast", 2, strict=True)
    ops = [(None, "get", None), (None, "put", 7), (None, "get", None)]
    one = [(None, False, None), (None, True, 7)]
    for bindings, want in [
        ({"fast": fast, "inf": TtlConfig("inf", -1, strict=True)}, one * 2),
        (fast, one),
    ]:
        rows = _run_wall_batch(_wallclock_kernel(bindings), _FakeGroupState(), ops)
        got = [(r.key, r.found, None if pd.isna(r.value) else r.value) for r in rows]
        assert got == want


def test_old_two_field_state_row_fails_loudly(monkeypatch):
    """A (value, last_access) row — the state layout of checkpoints from
    before the (value, last_access, have) slots — must raise, not be
    misread as a slot, on every path of both kernels."""
    _fake_clock(monkeypatch)
    ttl = TtlConfig("q", 2, strict=True)
    pdf = pd.DataFrame(
        [{"key": "a", "op": "get", "value": None, "ts_s": 0, "seq": 0}]
    )
    for kernel in (_virtual_kernel(ttl), _wallclock_kernel(ttl)):
        with pytest.raises(ValueError, match="2 fields"):
            list(kernel(("a",), iter([pdf]), _FakeGroupState((7, 1))))
    state = _FakeGroupState((7, 1))
    state.hasTimedOut = True
    with pytest.raises(ValueError, match="2 fields"):
        list(_wallclock_kernel(ttl)(("a",), iter([]), state))


def test_wallclock_strict_get_checks_elapsed_before_serving(monkeypatch):
    """Strict wall-clock TTL must not serve a stale value when data beats
    the engine timeout into the same micro-batch (ProcessingTimeTimeout
    only fires for batches with NO data for the key): the kernel stores
    last-access wall time and checks elapsed >= ttl on each get."""
    clock = _fake_clock(monkeypatch)
    kernel = _wallclock_kernel(TtlConfig("q", 2, strict=True))

    def run_batch(state, ops):
        return _run_wall_batch(kernel, state, ops)

    # Batch 1: put + get at t=1000 — served live.
    state = _FakeGroupState()
    rows = run_batch(state, [("a", "put", 7), ("a", "get", None)])
    assert [(r.found, r.value) for r in rows] == [(True, 7)]
    assert state.exists and state.timeout_set_ms == 2000

    # Batch 2: a get arrives at t=1003 (> ttl after last access) in a batch
    # WITH data, so hasTimedOut is False — the row-side check must miss and
    # drop the key anyway.
    clock["now"] = 1_003.0
    rows = run_batch(state, [("a", "get", None)])
    assert [(r.found, bool(pd.isna(r.value))) for r in rows] == [(False, True)]
    assert not state.exists, "strict read must drop the expired key"

    # Non-strict: same sequence serves the physically-present value
    # (keys live >= ttl until the engine sweeps them).
    kernel = _wallclock_kernel(TtlConfig("q", 2, strict=False))
    state = _FakeGroupState()
    clock["now"] = 1_000.0
    run_batch(state, [("a", "put", 7)])
    clock["now"] = 1_003.0
    rows = run_batch(state, [("a", "get", None)])
    assert [(r.found, r.value) for r in rows] == [(True, 7)]


@pytest.mark.slow
def test_wallclock_timeout_fires_without_traffic(spark, tmp_path):
    """Progress-independent expiry — the reference's marquee guarantee
    (README.md:42-47 "is not eventual", RocksDbStateTimeoutSuite.scala:
    104-121): a key that receives NO further ops is dropped once the
    wall-clock TTL elapses, purely by the engine's ProcessingTimeTimeout.

    This is the one test that must run on real time: the property under
    test is precisely that expiry does not depend on traffic, so a
    virtual clock cannot express it.
    """
    from spark_states_spark.streaming.ttl import ttl_kv_ops_wallclock

    # Phase 2 below polls numRowsTotal, which the engine's timed paths
    # disable for commit speed (session.py note, r14/r15) — opt in here.
    # conf.get default: the conf may be unset in a library session.
    track = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    saved_track = spark.conf.get(track, "true")
    spark.conf.set(track, "true")

    src = _write_batches(tmp_path, [[("a", "put", 7, 0), ("a", "get", None, 0)]])
    stream = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ttl_kv_ops_wallclock(stream, TtlConfig("q", 2, strict=True))
    collected: list = []

    def sink(df, _epoch):
        collected.extend(df.collect())

    name = f"wall_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(sink)
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt_wall"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        # Phase 1: the in-batch get serves the live key.
        while time.time() < deadline and not collected:
            time.sleep(0.2)
        assert collected, "first micro-batch never produced output"
        # Content-keyed (not index-keyed): a foreachBatch retry may deliver
        # duplicates; the property is that the live get was served.
        assert {(r.found, r.value) for r in collected} == {(True, 7)}

        # Phase 2: write NOTHING more. Only the engine's timeout can drop
        # the key; wait for the state row count to hit zero.
        def rows_total():
            p = q.lastProgress
            if not p or not p.get("stateOperators"):
                return None
            return p["stateOperators"][0]["numRowsTotal"]

        while time.time() < deadline and rows_total() != 0:
            time.sleep(0.25)
        assert rows_total() == 0, (
            f"idle key not expired by wall clock; numRowsTotal={rows_total()}"
        )

        # Phase 3: a late get confirms the key is gone.
        pdf = pd.DataFrame(
            [{"key": "a", "op": "get", "value": None, "ts_s": 99, "seq": 0}]
        )
        pdf["value"] = pd.array(pdf["value"], dtype="Int64")
        late = os.path.join(src, "batch_late.parquet")
        pdf.to_parquet(late)
        os.utime(late, (time.time(), time.time()))
        while time.time() < deadline and not any(not r.found for r in collected):
            time.sleep(0.2)
        misses = {(r.found, r.value) for r in collected if not r.found}
        assert misses == {(False, None)}, (
            f"late get never observed the expired key: {collected}"
        )
    finally:
        q.stop()
        spark.conf.set(track, saved_track)


def test_per_query_ttl_registry():
    """Conf parsing parity: stateExpirySecs[.query] map + UNNAMED fallback
    (reference getExpirationByQuery / stateTimeout suite 'different
    timeouts for each streaming query')."""
    conf = {
        "spark.sql.streaming.stateStore.stateExpirySecs": "-1",
        "spark.sql.streaming.stateStore.stateExpirySecs.query1": "3",
        "spark.sql.streaming.stateStore.stateExpirySecs.query2": "5",
        "spark.sql.streaming.stateStore.strictExpire": "true",
    }
    m = expiration_by_query(conf)
    # sentinel string identical to the reference constant (Provider.scala:705)
    assert m["query1"] == 3 and m["query2"] == 5 and m["UNNAMED_QUERY"] == -1
    assert resolve_ttl(conf, "query1") == TtlConfig("query1", 3, True)
    assert resolve_ttl(conf, "query2") == TtlConfig("query2", 5, True)
    assert resolve_ttl(conf, None).ttl_secs == -1
    assert resolve_ttl({}, "x") == TtlConfig("x", -1, False)
    # negative coercion (implicits.scala:66)
    assert resolve_ttl(
        {"spark.sql.streaming.stateStore.stateExpirySecs.q": "-7"}, "q"
    ).ttl_secs == -1


def test_invalid_ttl_conf_rejected():
    with pytest.raises(ValueError):
        expiration_by_query(
            {"spark.sql.streaming.stateStore.stateExpirySecs": "abc"}
        )


def test_wallclock_drain_surfaces_kernel_failure(spark, tmp_path):
    """run_stream_drain_wallclock must detect a dead query and re-raise its
    real failure promptly — not spin to a misleading drain TimeoutError.
    A put with a NULL value makes the kernel's int() conversion throw on
    the executor, terminating the query."""
    from spark_states_spark.streaming.runner import run_stream_drain_wallclock
    from spark_states_spark.streaming.ttl import ttl_kv_ops_wallclock

    src = _write_batches(tmp_path, [[("a", "put", None, 0), ("a", "get", None, 1)]])
    stream = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ttl_kv_ops_wallclock(stream, TtlConfig("q", -1, strict=False))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    t0 = time.time()
    with pytest.raises(RuntimeError, match="terminated before draining"):
        run_stream_drain_wallclock(out, n_input_rows=2, timeout_s=120.0, parts=3)
    # Fail-fast: the failure surfaced long before the drain deadline.
    assert time.time() - t0 < 60
    # The dead drain's pinned state-partition count does not leak out.
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
