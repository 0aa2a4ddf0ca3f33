"""Keyed state with per-query TTL — the reference's defining semantics.

Reproduces the TTL contract of the reference's RocksDB state store
(``README.md:34-49``, ``RocksDbStateStoreProvider.scala:71-94``, verified
by its ``RocksDbStateTimeoutSuite``):

- ``ttl = -1`` → infinite state (default);
- ``ttl = 0``  → **stateless**: every put is immediately invisible;
- ``ttl > 0``  → a key expires ``ttl`` seconds after its creation, last
  update **or last access** — a read resets the clock (the reference's
  Guava ``expireAfterAccess`` cache, Provider.scala:711-726);
- **strict** mode: expiry enforced exactly on read (reference consults the
  live-key cache on get/iterator, Provider.scala:139-146,272-276);
  **non-strict**: lazy — an expired key may still be served until the next
  sweep (reference TtlDB compaction-time expiry: keys live "≥ ttl",
  Provider.scala:80-85).

PySpark-native implementation: a single ``applyInPandasWithState`` stage,
in TWO clock bindings:

- ``ttl_kv_ops`` — **virtual clock** carried on the rows (``ts_s``), the
  same determinism move as the reference's FakeTicker tests (SURVEY.md
  §5); expiry evaluates when ops arrive for a key or at batch-end sweep.
  This is the oracle/test binding: replayable on event-time at any scale.
- ``ttl_kv_ops_wallclock`` — **wall clock** via
  ``GroupStateTimeout.ProcessingTimeTimeout``: an idle key's timeout
  fires on the engine's processing-time clock even if no further ops
  ever arrive for it — the reference's marquee "is not eventual"
  guarantee (``README.md:42-47``, ``RocksDbStateTimeoutSuite.scala:
  104-121``). This is the production binding, wired through
  ``state_timeout`` (writer.py) and the conf registry (config.py).

Scale shape: state lives in the configured RocksDB state store, keyed and
partitioned by the group key — the Arrow batches stream per key-group, so
memory is O(active keys per partition), not O(stream).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import TtlConfig

# Input op-stream schema: (key, op ∈ {put,get,remove}, value, ts_s virtual
# seconds). Mirrors the reference test surface: its suites drive the store
# with put/get sequences across versions (RocksDbStateStoreProviderSuite).
OPS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("value", T.LongType()),
        T.StructField("ts_s", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts_s", T.LongType()),
        T.StructField("found", T.BooleanType()),
        T.StructField("value", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.LongType()),
        T.StructField("last_access", T.LongType()),
    ]
)


def replay_virtual(
    rows: pd.DataFrame,
    ttl: TtlConfig,
    value: int | None,
    last_access: int | None,
    have: bool,
) -> tuple[list[tuple[str, int, bool, int | None]], tuple[int, int] | None]:
    """Replay one batch of (key, op, value, ts_s, seq) rows through the
    virtual-clock TTL contract; return (get outcomes, surviving state).

    The single source of truth for the kernel semantics, shared by BOTH
    arbitrary-state bindings (``applyInPandasWithState`` below and the
    ``transformWithStateInPandas`` binding in ttl_tws.py) so they cannot
    drift. Surviving state is None when the key should be dropped — the
    batch-end sweep, the per-commit stand-in for RocksDB compaction-time
    expiry (``RocksDbStateStoreProvider.scala:80-85``).

    Hot path: one kernel invocation per (key group, micro-batch). Measured
    per ``kv_ttl`` drain (perfbench; 16 tasks, 1,502 groups; 4-core
    2.1 GHz Xeon VM, CPython 3.11), the Python-worker CPU splits into
    ~2.8 ms of PySpark framework per group (Arrow slice, serializer,
    state round trip, per-task set-up) and ~0.2 ms of this kernel per
    group; a further ~270 ms per task of ``pyspark.zip`` directory
    re-reads is gone under the engine's worker daemon
    (``spark_states_spark/worker_daemon.py``). So the kernel is under a
    tenth of the per-group cost. The replay runs
    on raw numpy column arrays (lexsort + scalar loop) instead of pandas
    ``sort_values``/``itertuples``: identical control flow and outcomes,
    ~5× less per-group overhead (measured 1.6 ms → ~0.3 ms on a 66-row
    group). The property differential (tests/test_ttl_properties.py)
    drives this exact code against an independent model of the contract.
    """
    out: list[tuple[str, int, bool, int | None]] = []

    is_infinite, is_stateless = ttl.is_infinite, ttl.is_stateless
    strict, ttl_secs = ttl.strict, ttl.ttl_secs

    def alive(now: int) -> bool:
        if not have:
            return False
        if is_infinite:
            return True
        if is_stateless:
            return False  # puts are immediately invisible (ttl=0)
        return now - last_access < ttl_secs

    keys = rows["key"].to_numpy()
    ops = rows["op"].to_numpy()
    vals = rows["value"].to_numpy()
    # Pin the numeric dtypes (ADVICE r09): if the Arrow→pandas conversion
    # ever yields nullable extension dtypes (e.g. Int64), a bare
    # .to_numpy() produces OBJECT arrays and lexsort/argsort degrade or
    # error. The op-stream schema is non-null, so the coercion is a no-op
    # today — it makes the invariant explicit instead of implicit.
    ts = rows["ts_s"].to_numpy(dtype="int64")
    seq = rows["seq"].to_numpy(dtype="int64")
    # Deterministic replay order: virtual time, then sequence number.
    order = np.lexsort((seq, ts))
    end_now = 0
    for i in order:
        now = int(ts[i])
        if now > end_now:
            end_now = now
        op = ops[i]
        if op == "put":
            value, last_access, have = int(vals[i]), now, True
        elif op == "get":
            if alive(now):
                out.append((keys[i], now, True, value))
                if strict:
                    # reset-on-access: the strict live-key cache is
                    # expireAfterAccess, so a read extends the deadline
                    # (reference test "ttl should reset on get, set and
                    # update", strict mode).
                    last_access = now
            elif have and not strict and not is_stateless:
                # non-strict lazy expiry: an expired-but-unswept key is
                # still served (TtlDB keys live "≥ ttl"); the clock is
                # update-based, so serving does NOT extend it.
                out.append((keys[i], now, True, value))
            else:
                out.append((keys[i], now, False, None))
                if have and strict:
                    value, last_access, have = None, None, False
        elif op == "remove":
            value, last_access, have = None, None, False

    if have and not is_stateless and alive(end_now):
        return out, (value, last_access)
    return out, None


def outcomes_frame(out: list[tuple[str, int, bool, int | None]]) -> pd.DataFrame:
    """Get-outcome rows → the OUTPUT_SCHEMA frame, with nullable int64
    values (a miss yields value=null — plain int columns would silently
    become float64 under NaN). Column-wise construction with a direct
    ``IntegerArray(values, mask)`` — the row-tuple ``pd.DataFrame`` +
    ``pd.array`` spelling cost ~0.4 ms per group, pure fixed overhead on
    the per-group hot path."""
    n = len(out)
    ts = np.fromiter((o[1] for o in out), dtype="int64", count=n)
    found = np.fromiter((o[2] for o in out), dtype=bool, count=n)
    mask = np.fromiter((o[3] is None for o in out), dtype=bool, count=n)
    vals = np.fromiter(
        (0 if o[3] is None else o[3] for o in out), dtype="int64", count=n
    )
    return pd.DataFrame(
        {
            "key": [o[0] for o in out],
            "ts_s": ts,
            "found": found,
            "value": pd.arrays.IntegerArray(vals, mask=mask),
        }
    )


def _make_kernel(ttl: TtlConfig):
    """Build the per-key state function for applyInPandasWithState."""

    def kernel(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            value, last_access = state.get
            have = True
        else:
            value, last_access, have = None, None, False

        frames = list(pdfs)
        rows = frames[0] if len(frames) == 1 else pd.concat(frames)
        out, survived = replay_virtual(rows, ttl, value, last_access, have)
        if survived is not None:
            state.update(survived)
        else:
            state.remove()
        if out:
            yield outcomes_frame(out)

    return kernel


def ttl_kv_ops(ops_stream: DataFrame, ttl: TtlConfig) -> DataFrame:
    """Apply the TTL keyed-state kernel to a (key, op, value, ts_s, seq)
    stream; emits one row per ``get`` with its outcome.

    Virtual-clock binding (``NoTimeout``): expiry is evaluated against the
    rows' ``ts_s`` when ops arrive or at batch-end sweep — deterministic
    and replayable, but an idle key in a live stream is only dropped once
    something touches its group. For the reference's progress-independent
    expiry use :func:`ttl_kv_ops_wallclock`.
    """
    return ops_stream.groupBy("key").applyInPandasWithState(
        _make_kernel(ttl),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- wall-clock (processing-time) binding -------------------------------

WALL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.LongType()),
        T.StructField("last_access_ms", T.LongType()),
    ]
)

WALL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("found", T.BooleanType()),
        T.StructField("value", T.LongType()),
    ]
)


def _make_wallclock_kernel(ttl: TtlConfig):
    """Per-key state function bound to the engine's processing-time clock.

    Expire-after-access on wall time (the reference's Guava
    ``expireAfterAccess`` cache, Provider.scala:711-726): every batch that
    touches the key re-arms the timeout; a key with no traffic is
    invoked with ``hasTimedOut`` once ``ttl_secs`` of wall time pass and
    is physically dropped — **independently of query progress for that
    key** (README.md:42-47).

    Strict mode additionally stores the last-access wall time in state and
    checks ``elapsed >= ttl`` on every get before serving: the engine's
    ``ProcessingTimeTimeout`` only fires for a batch with no data for the
    key, so when data beats the timeout into a batch, the timeout alone
    would serve a stale value — strict "expire exactly on read"
    (Provider.scala:139-146) needs the row-side check; the engine timeout
    remains the physical cleanup path for idle keys. Non-strict keeps pure
    engine-timeout expiry: present keys are served (keys live "≥ ttl",
    the TtlDB compaction analogue).
    """

    def kernel(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # ttl elapsed with zero ops for this key: fires on the
            # engine's clock alone — the "is not eventual" semantics.
            state.remove()
            return

        if state.exists:
            value, last_access_ms = state.get
            have = True
        else:
            value, last_access_ms, have = None, None, False

        frames = list(pdfs)
        rows = frames[0] if len(frames) == 1 else pd.concat(frames)
        out, survived = replay_wallclock(rows, ttl, value, last_access_ms, have)

        if survived is not None:
            state.update(survived)
            if not ttl.is_infinite:
                # re-arm on every access: expireAfterAccess semantics.
                state.setTimeoutDuration(ttl.ttl_secs * 1000)
        elif state.exists:
            state.remove()

        if out:
            yield wall_outcomes_frame(out)

    return kernel


def replay_wallclock(
    rows: pd.DataFrame,
    ttl: TtlConfig,
    value: int | None,
    last_access_ms: int | None,
    have: bool,
) -> tuple[list[tuple[str, bool, int | None]], tuple[int, int] | None]:
    """Replay one batch of (key, op, value, seq) rows through the
    wall-clock TTL contract; return (get outcomes, surviving state).

    The wall-clock twin of :func:`replay_virtual` — the single source of
    truth for the kernel semantics, shared by the solo kernel builder and
    the composite multi-binding kernel so they cannot drift. ``now`` is
    read from this module's ``time`` per op (tests monkeypatch it).
    Surviving state is None when the key should be dropped."""
    ttl_ms = ttl.ttl_secs * 1000 if ttl.ttl_secs and ttl.ttl_secs > 0 else None

    def alive(now_ms: int) -> bool:
        if not have or ttl.is_stateless:
            return False
        if ttl.is_infinite or not ttl.strict or ttl_ms is None:
            return True
        return now_ms - last_access_ms < ttl_ms

    out: list[tuple[str, bool, int | None]] = []
    # Same numpy hot-path treatment as replay_virtual: one invocation
    # per (key group, micro-batch) makes per-call pandas overhead the
    # dominant cost at scale.
    keys = rows["key"].to_numpy()
    ops = rows["op"].to_numpy()
    vals = rows["value"].to_numpy()
    # dtype pinned for the same reason as replay_virtual's ts/seq.
    order = np.argsort(rows["seq"].to_numpy(dtype="int64"), kind="stable")
    for i in order:
        now_ms = int(time.time() * 1000)
        op = ops[i]
        if op == "put":
            value, last_access_ms, have = int(vals[i]), now_ms, True
        elif op == "get":
            if alive(now_ms):
                out.append((keys[i], True, value))
                # reset-on-access (expireAfterAccess)
                last_access_ms = now_ms
            else:
                out.append((keys[i], False, None))
                if have and ttl.strict:
                    # strict read observes expiry → drop immediately
                    value, last_access_ms, have = None, None, False
        elif op == "remove":
            value, last_access_ms, have = None, None, False

    if have and not ttl.is_stateless:
        return out, (value, last_access_ms)
    return out, None


def wall_outcomes_frame(
    out: list[tuple[str, bool, int | None]]
) -> pd.DataFrame:
    """Get-outcome rows → the WALL_OUTPUT_SCHEMA frame (same nullable-int
    treatment as :func:`outcomes_frame`)."""
    n = len(out)
    mask = np.fromiter((o[2] is None for o in out), dtype=bool, count=n)
    vals_out = np.fromiter(
        (0 if o[2] is None else o[2] for o in out), dtype="int64", count=n
    )
    return pd.DataFrame(
        {
            "key": [o[0] for o in out],
            "found": np.fromiter((o[1] for o in out), dtype=bool, count=n),
            "value": pd.arrays.IntegerArray(vals_out, mask=mask),
        }
    )


def ttl_kv_ops_wallclock(ops_stream: DataFrame, ttl: TtlConfig) -> DataFrame:
    """Production TTL binding: keyed state whose expiry fires on the
    engine's processing-time clock via ``ProcessingTimeTimeout``.

    Unlike :func:`ttl_kv_ops`, an idle key is dropped after ``ttl_secs``
    of wall time even if no op ever arrives for it again — matching the
    reference's wall-clock TTL (``RocksDbStateTimeoutSuite.scala:104-121``,
    README.md:42-47 "is not eventual"). ``ts_s`` on the input rows is
    ignored; ``seq`` still orders ops within a batch.
    """
    return ops_stream.groupBy("key").applyInPandasWithState(
        _make_wallclock_kernel(ttl),
        outputStructType=WALL_OUTPUT_SCHEMA,
        stateStructType=WALL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# --- composite multi-binding kernels (shared drains, r14) ----------------
#
# The shared drains (streaming/queries.py) run several TTL bindings over
# the SAME op stream. Through r13 they did it by exploding every op row
# into one binding-tagged copy per binding and dispatching each
# ('<binding>|<key>') group to its binding's solo kernel — semantically
# clean, but it multiplied the shuffle volume AND the per-group Python
# call count by the binding count purely to reuse the solo kernel object
# (guide §4: the JVM↔Python boundary crossings, not the fold itself, are
# the cost). The composite kernels below process each BARE key once per
# micro-batch and run every binding's unchanged replay fold
# (replay_virtual / replay_wallclock — the single sources of truth) over
# the same rows against one composite state row holding each binding's
# (value, last_access, have) slot. Emitted rows carry the same
# '<binding>|'-prefixed keys as the exploded design, so the sink contents
# are identical row-for-row.
#
# Sweep equivalence: a binding whose solo kernel would remove its state is
# recorded as have=False in the composite row (value slots zeroed); its
# next replay starts from have=False exactly as a removed store row would,
# and the composite row itself is removed once EVERY binding is dead — so
# fold inputs, and therefore outcomes, are unchanged for any chunking.


def composite_state_schema(n_bindings: int) -> T.StructType:
    """State schema for a composite kernel: per binding a (value,
    last_access, have) slot. ``last_access`` is virtual seconds for the
    virtual-clock kernel and wall ms for the wall-clock kernel."""
    fields = []
    for i in range(n_bindings):
        fields += [
            T.StructField(f"v{i}", T.LongType()),
            T.StructField(f"a{i}", T.LongType()),
            T.StructField(f"h{i}", T.BooleanType()),
        ]
    return T.StructType(fields)


def _binding_slot(st, i: int):
    """Decode slot ``i`` of a composite state tuple → (value, last, have)."""
    if st is None or not st[3 * i + 2]:
        return None, None, False
    return st[3 * i], st[3 * i + 1], True


def make_composite_virtual_kernel(bindings: dict[str, TtlConfig]):
    """One applyInPandasWithState kernel folding EVERY virtual-clock
    binding over the same bare-key op rows (see the block comment above).
    Binding order is the sorted name order; output keys are
    '<binding>|<key>'."""
    names = sorted(bindings)
    ttls = [bindings[b] for b in names]
    prefixes = [b + "|" for b in names]
    n_b = len(names)

    def kernel(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        st = state.get if state.exists else None
        frames = list(pdfs)
        rows = frames[0] if len(frames) == 1 else pd.concat(frames)
        merged: list[tuple[str, int, bool, int | None]] = []
        new_st: list = []
        any_alive = False
        for i in range(n_b):
            value, last, have = _binding_slot(st, i)
            out, survived = replay_virtual(rows, ttls[i], value, last, have)
            p = prefixes[i]
            merged.extend((p + k, t, f, v) for (k, t, f, v) in out)
            if survived is None:
                new_st += [0, 0, False]
            else:
                new_st += [survived[0], survived[1], True]
                any_alive = True
        if any_alive:
            state.update(tuple(new_st))
        else:
            state.remove()
        if merged:
            yield outcomes_frame(merged)

    return kernel


def make_composite_wallclock_kernel(bindings: dict[str, TtlConfig]):
    """One applyInPandasWithState kernel folding EVERY wall-clock binding
    over the same bare-key op rows, with ProcessingTimeTimeout handling:

    - data path: every binding replays via replay_wallclock; if any FINITE
      binding survives, the timeout re-arms with the minimum finite ttl
      (each surviving finite binding's last access was refreshed in this
      batch, so this equals the solo kernels' per-binding re-arm);
    - timeout path (no ops for the key for the armed duration): each
      finite binding whose wall elapsed ≥ its ttl is dropped — exactly the
      solo kernel's unconditional remove-on-fire, since the engine fires
      only after the armed (minimum-ttl) duration passes; a finite binding
      with a longer ttl that has not yet elapsed is kept and the timeout
      re-arms with its remaining time. Infinite bindings never expire
      (their solo kernels never arm a timeout)."""
    names = sorted(bindings)
    ttls = [bindings[b] for b in names]
    prefixes = [b + "|" for b in names]
    n_b = len(names)
    finite_ms = [
        (t.ttl_secs * 1000 if t.ttl_secs and t.ttl_secs > 0 else None)
        for t in ttls
    ]

    def _rearm(state, new_st) -> None:
        remaining = []
        now_ms = int(time.time() * 1000)
        for i in range(n_b):
            if finite_ms[i] is None or not new_st[3 * i + 2]:
                continue
            remaining.append(
                max(1, finite_ms[i] - (now_ms - new_st[3 * i + 1]))
            )
        if remaining:
            state.setTimeoutDuration(min(remaining))

    def kernel(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        st = state.get if state.exists else None

        if state.hasTimedOut:
            # The armed (minimum finite) duration elapsed with zero ops:
            # drop every finite binding whose own ttl has elapsed.
            now_ms = int(time.time() * 1000)
            new_st: list = []
            any_alive = False
            for i in range(n_b):
                value, last, have = _binding_slot(st, i)
                if (
                    have
                    and finite_ms[i] is not None
                    and now_ms - last >= finite_ms[i]
                ):
                    value, last, have = None, None, False
                if have:
                    new_st += [value, last, True]
                    any_alive = True
                else:
                    new_st += [0, 0, False]
            if any_alive:
                state.update(tuple(new_st))
                _rearm(state, new_st)
            else:
                state.remove()
            return

        frames = list(pdfs)
        rows = frames[0] if len(frames) == 1 else pd.concat(frames)
        merged: list[tuple[str, bool, int | None]] = []
        new_st = []
        any_alive = False
        for i in range(n_b):
            value, last, have = _binding_slot(st, i)
            out, survived = replay_wallclock(rows, ttls[i], value, last, have)
            p = prefixes[i]
            merged.extend((p + k, f, v) for (k, f, v) in out)
            if survived is None:
                new_st += [0, 0, False]
            else:
                new_st += [survived[0], survived[1], True]
                any_alive = True
        if any_alive:
            state.update(tuple(new_st))
            _rearm(state, new_st)
        elif state.exists:
            state.remove()
        if merged:
            yield wall_outcomes_frame(merged)

    return kernel
