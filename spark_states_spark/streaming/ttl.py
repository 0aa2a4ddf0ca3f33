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

Either stage takes one ``TtlConfig`` or a ``{name: TtlConfig}`` mapping of
several bindings folded over the same op stream (see :func:`state_schema`).

Scale shape: state lives in the configured RocksDB state store. The
wall-clock stage keeps one state row per key. The virtual-clock stage
groups by hash bucket, ``pmod(xxhash64(key), BUCKETS)``: one Python call
per bucket and batch in place of one per key, and one state row per bucket
holding every live key of the bucket as an Arrow IPC table (see
:func:`ttl_kv_ops`). Memory is O(live keys of the buckets a partition
touches in one batch), not O(stream); :func:`read_ttl_state` decodes the
bucket rows of a checkpoint back into one row per live key.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator, Mapping
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
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

WALL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("found", T.BooleanType()),
        T.StructField("value", T.LongType()),
    ]
)

# One binding's (value, last_access) — the ValueState row of the
# transformWithStateInPandas binding (ttl_tws.py).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.LongType()),
        T.StructField("last_access", T.LongType()),
    ]
)

Bindings = TtlConfig | Mapping[str, TtlConfig]


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

    Hot path: one invocation per (key, micro-batch). PySpark charges ~2.8
    ms of framework per applyInPandasWithState group (Arrow slice,
    serializer, state round trip, per-task set-up) against ~0.2 ms of this
    fold (``kv_ttl`` drain, 1,502 (key, batch) pairs; 4-core 2.1 GHz Xeon
    VM, CPython 3.11), so the virtual-clock stage groups by hash bucket
    and runs this fold for every key of a bucket inside one group call:
    64 groups per ``kv_ttl`` drain in place of 1,502 (see
    :func:`ttl_kv_ops`). The wall-clock stage still pays the framework
    once per key. The replay runs on raw numpy column arrays (lexsort +
    scalar loop) instead of pandas ``sort_values``/``itertuples``:
    identical control flow and outcomes, ~5× less per-group overhead
    (measured 1.6 ms → ~0.3 ms on a 66-row group). The property
    differential (tests/test_ttl_properties.py) drives this exact code
    against an independent model of the contract.
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
    truth for the kernel semantics, run once per binding by the wall-clock
    kernel builder. ``now`` is read from this module's ``time`` per op
    (tests monkeypatch it). Surviving state is None when the key should be
    dropped."""
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


# --- the keyed-TTL stage: one kernel builder per clock --------------------
#
# Each bare key is one group per micro-batch; every binding's unchanged
# replay fold (replay_virtual / replay_wallclock) runs over the same rows
# against its own (value, last_access, have) slot of one state row. A bare
# TtlConfig is the one-binding case with bare output keys; a mapping emits
# '<name>|<key>' rows, in sorted name order.
#
# Sweep equivalence: a binding whose fold drops its key is recorded as
# have=False (value slots null); its next replay starts from have=False
# exactly as a removed store row would, and the state row itself is removed
# once EVERY binding is dead — so each binding's fold inputs, and therefore
# its outcomes, equal that binding run alone, for any chunking.


def state_schema(n: int) -> T.StructType:
    """State schema of an ``n``-binding stage: per binding a (value,
    last_access, have) slot. ``last_access`` is virtual seconds for the
    virtual-clock kernel and wall ms for the wall-clock kernel."""
    fields = []
    for i in range(n):
        fields += [
            T.StructField(f"v{i}", T.LongType()),
            T.StructField(f"a{i}", T.LongType()),
            T.StructField(f"h{i}", T.BooleanType()),
        ]
    return T.StructType(fields)


_DEAD = (None, None, False)


def _split(bindings: Bindings) -> tuple[list[str], list[TtlConfig]]:
    """Output-key prefixes and TtlConfigs, in slot order."""
    if isinstance(bindings, TtlConfig):
        return [""], [bindings]
    names = sorted(bindings)
    return [b + "|" for b in names], [bindings[b] for b in names]


def _prefixed(prefix: str, key: str | None) -> str | None:
    """Output key ``prefix + key`` (prefix ``'<name>|'`` under a mapping,
    empty for a bare TtlConfig); a null key stays null under either, as
    SQL's ``concat('name|', NULL)`` is null."""
    return None if key is None else prefix + key


def _slots(state: GroupState, n: int) -> list[tuple]:
    """Decode the state row into ``n`` (value, last_access, have) slots. A
    row of any other width — e.g. the 2-field (value, last_access) row of
    an older checkpoint — raises instead of being misread."""
    if not state.exists:
        return [_DEAD] * n
    st = state.get
    if len(st) != 3 * n:
        raise ValueError(
            f"TTL state row has {len(st)} fields, expected {3 * n} (value, "
            f"last_access, have) x {n}: checkpoint from another state layout"
        )
    return [
        (st[i], st[i + 1], True) if st[i + 2] else _DEAD
        for i in range(0, 3 * n, 3)
    ]


def _store(state: GroupState, slots: list[tuple]) -> bool:
    """Write the slots back, or remove the row once every binding is dead;
    returns whether it survives."""
    if any(have for _, _, have in slots):
        state.update(tuple(x for slot in slots for x in slot))
        return True
    if state.exists:
        state.remove()
    return False


def _rows(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    frames = list(pdfs)
    return frames[0] if len(frames) == 1 else pd.concat(frames)


def _virtual_kernel(bindings: Bindings):
    """The applyInPandasWithState kernel of :func:`ttl_kv_ops`."""
    prefixes, ttls = _split(bindings)

    def kernel(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        slots = _slots(state, len(ttls))
        rows = _rows(pdfs)
        merged: list[tuple[str, int, bool, int | None]] = []
        new = []
        for p, ttl, (value, last, have) in zip(prefixes, ttls, slots):
            out, survived = replay_virtual(rows, ttl, value, last, have)
            merged += [(_prefixed(p, k), t, f, v) for k, t, f, v in out]
            new.append(_DEAD if survived is None else (*survived, True))
        _store(state, new)
        if merged:
            yield outcomes_frame(merged)

    return kernel


# --- the virtual-clock stage: one group per hash bucket --------------------
#
# PySpark pays a fixed cost per applyInPandasWithState group (Arrow slice,
# serializer, state round trip), so ttl_kv_ops groups by bucket and runs
# the per-key kernel above once per key the batch touches, each against a
# _KeyState view of that key's slot row. Keys of the bucket that the batch
# does not touch are carried over as they are and are not swept, exactly as
# their own per-key group would not have run, so every key's fold inputs,
# and therefore its outcomes, equal the per-key stage's for any chunking.
#
# The bucket's state row is one binary field: an Arrow IPC stream of one
# table with a row per live key, (key, v0, a0, h0, ...) in state_schema(n)
# slot order. The schema metadata carries the layout (format version,
# BUCKETS, binding names); a blob of any other layout raises. A checkpoint
# is data, so the encoding is never pickle, which would run code from it.

# Chosen from 16/32/64 by measurement (DEPLOYMENT.md, "Bucketed TTL
# state"). A constant, not a setting: it is part of the checkpoint layout.
BUCKETS = 16
_LAYOUT_VERSION = "1"

BUCKET_STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType())])


class _KeyState:
    """One key's slot row inside a bucket, with the GroupState surface that
    :func:`_virtual_kernel` uses."""

    __slots__ = ("row",)

    def __init__(self, row: tuple | None):
        self.row = row

    @property
    def exists(self) -> bool:
        return self.row is not None

    @property
    def get(self) -> tuple:
        return self.row

    def update(self, row) -> None:
        self.row = tuple(row)

    def remove(self) -> None:
        self.row = None


def _blob_schema(bindings: Bindings) -> pa.Schema:
    """A stage's bucket blob schema: ``key`` and the ``state_schema(n)``
    slots. The metadata is the layout; ``ttl.bindings`` is null for a bare
    TtlConfig, else the sorted binding names."""
    names = None if isinstance(bindings, TtlConfig) else sorted(bindings)
    slots = to_arrow_schema(state_schema(len(_split(bindings)[1])))
    layout = {
        "ttl.layout": _LAYOUT_VERSION,
        "ttl.buckets": str(BUCKETS),
        "ttl.bindings": json.dumps(names),
    }
    return pa.schema([pa.field("key", pa.string()), *slots], metadata=layout)


def _layout(schema: pa.Schema) -> dict[str, str]:
    return {k.decode(): v.decode() for k, v in (schema.metadata or {}).items()}


def _decode(blob: bytes) -> pa.Table:
    return pa.ipc.open_stream(pa.py_buffer(blob)).read_all()


def _encode(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table.combine_chunks())
    return sink.getvalue().to_pybytes()


def _bucket_kernel(bindings: Bindings):
    """The applyInPandasWithState kernel of :func:`ttl_kv_ops`."""
    per_key = _virtual_kernel(bindings)
    schema = _blob_schema(bindings)
    slots = schema.names[1:]

    def load(state: GroupState) -> pa.Table:
        if not state.exists:
            return schema.empty_table()
        table = _decode(state.get[0])
        if not table.schema.equals(schema, check_metadata=True):
            raise ValueError(
                f"TTL bucket state has layout {_layout(table.schema)} and "
                f"columns {table.schema.names}, expected {_layout(schema)} "
                f"and {schema.names}: checkpoint from another state layout"
            )
        return table

    def kernel(
        bucket: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        table = load(state)
        rows = _rows(pdfs)
        groups = [g for _, g in rows.groupby("key", sort=False, dropna=False)]
        keys = pa.array([g["key"].iat[0] for g in groups], pa.string())
        at = pc.index_in(keys, value_set=table["key"], skip_nulls=False)
        hits = at.is_valid().to_pylist()
        old = zip(*(table[c].take(at).to_pylist() for c in slots))
        frames, fresh = [], []
        for key, g, hit, row in zip(keys.to_pylist(), groups, hits, old):
            view = _KeyState(row if hit else None)
            frames += per_key((key,), iter([g]), view)
            if view.exists:
                fresh.append((key, *view.row))
        carried = table.filter(
            pc.invert(pc.is_in(table["key"], value_set=keys, skip_nulls=False))
        )
        columns = list(zip(*fresh)) or [()] * len(schema)
        merged = pa.concat_tables([
            carried,
            pa.Table.from_arrays(
                [pa.array(col, f.type) for col, f in zip(columns, schema)],
                schema=schema,
            ),
        ])
        if merged.num_rows:
            state.update((_encode(merged),))
        elif state.exists:
            state.remove()
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return kernel


def ttl_kv_ops(ops_stream: DataFrame, ttl: Bindings) -> DataFrame:
    """Apply the TTL keyed-state kernel to a (key, op, value, ts_s, seq)
    stream; emits one row per ``get`` (and binding) with its outcome.

    Virtual-clock binding (``NoTimeout``): expiry is evaluated against the
    rows' ``ts_s`` when ops arrive for a key or at its batch-end sweep —
    deterministic and replayable, but an idle key in a live stream is only
    dropped once an op for that key arrives. For the reference's
    progress-independent expiry use :func:`ttl_kv_ops_wallclock`.

    Groups by ``pmod(xxhash64(key), BUCKETS)``; each key's fold is the
    per-key kernel's (see the bucket-layout note above).
    """
    bucket = F.pmod(F.xxhash64("key"), F.lit(BUCKETS))
    grouped = ops_stream.withColumn("bucket", bucket).groupBy("bucket")
    return grouped.applyInPandasWithState(
        _bucket_kernel(ttl),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_ttl_state(
    spark: SparkSession, checkpoint_location: str, *, batch_id: int | None = None
) -> DataFrame:
    """The live keys of a :func:`ttl_kv_ops` checkpoint, one row per
    (binding, key): ``binding`` (null for a bare TtlConfig), ``key``,
    ``value``, ``last_access``. Decodes the bucket rows that
    ``state_reader.read_state`` returns, on the executors (``mapInArrow``);
    ``batch_id`` as there."""
    from .state_reader import read_state

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for blob in batch.column("blob").to_pylist():
                table = _decode(blob)
                layout = _layout(table.schema)
                if layout.get("ttl.layout") != _LAYOUT_VERSION:
                    raise ValueError(f"not a TTL bucket state blob: {layout}")
                names = json.loads(layout["ttl.bindings"]) or [None]
                for i, name in enumerate(names):
                    live = table.filter(table[f"h{i}"])
                    cols = ("key", f"v{i}", f"a{i}")
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([name] * live.num_rows, pa.string()),
                            *(live[c].combine_chunks() for c in cols),
                        ],
                        names=["binding", "key", "value", "last_access"],
                    )

    return (
        read_state(spark, checkpoint_location, batch_id=batch_id)
        .select(F.col("value.groupState.blob").alias("blob"))
        .mapInArrow(decode, "binding string, key string, value long, last_access long")
    )


def _wallclock_kernel(bindings: Bindings):
    """The applyInPandasWithState kernel of :func:`ttl_kv_ops_wallclock`.

    Expire-after-access on wall time (the reference's Guava
    ``expireAfterAccess`` cache, Provider.scala:711-726):

    - data path: every binding replays via :func:`replay_wallclock`. Strict
      mode checks ``elapsed >= ttl`` on every get before serving, because
      ``ProcessingTimeTimeout`` only fires for a batch with no data for the
      key; non-strict serves present keys (keys live "≥ ttl").
    - re-arm: while any FINITE binding survives, the timeout is armed with
      the least remaining time over those bindings.
    - timeout path (no ops for the key for the armed duration — fires on
      the engine's clock alone, **independently of query progress for
      that key**, README.md:42-47): each finite binding whose own elapsed
      time reached its ttl is dropped; the others are kept and the timeout
      re-arms. Infinite bindings never arm a timeout and never expire.
    """
    prefixes, ttls = _split(bindings)
    ttl_ms = [t.ttl_secs * 1000 if t.ttl_secs > 0 else None for t in ttls]

    def kernel(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        slots = _slots(state, len(ttls))
        merged: list[tuple[str, bool, int | None]] = []
        if state.hasTimedOut:
            now_ms = int(time.time() * 1000)
            slots = [
                _DEAD if have and ms is not None and now_ms - last >= ms
                else (value, last, have)
                for (value, last, have), ms in zip(slots, ttl_ms)
            ]
        else:
            rows = _rows(pdfs)
            new = []
            for p, ttl, (value, last, have) in zip(prefixes, ttls, slots):
                out, survived = replay_wallclock(rows, ttl, value, last, have)
                merged += [(_prefixed(p, k), f, v) for k, f, v in out]
                new.append(_DEAD if survived is None else (*survived, True))
            slots = new
        if _store(state, slots):
            now_ms = int(time.time() * 1000)
            remaining = [
                ms - (now_ms - last)
                for (_, last, have), ms in zip(slots, ttl_ms)
                if have and ms is not None
            ]
            if remaining:
                state.setTimeoutDuration(max(1, min(remaining)))
        if merged:
            yield wall_outcomes_frame(merged)

    return kernel


def ttl_kv_ops_wallclock(ops_stream: DataFrame, ttl: Bindings) -> DataFrame:
    """Production TTL binding: keyed state whose expiry fires on the
    engine's processing-time clock via ``ProcessingTimeTimeout``.

    Unlike :func:`ttl_kv_ops`, an idle key is dropped after ``ttl_secs``
    of wall time even if no op ever arrives for it again — matching the
    reference's wall-clock TTL (``RocksDbStateTimeoutSuite.scala:104-121``,
    README.md:42-47 "is not eventual"). ``ts_s`` on the input rows is
    ignored; ``seq`` still orders ops within a batch.
    """
    return ops_stream.groupBy("key").applyInPandasWithState(
        _wallclock_kernel(ttl),
        outputStructType=WALL_OUTPUT_SCHEMA,
        stateStructType=state_schema(len(_split(ttl)[1])),
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
