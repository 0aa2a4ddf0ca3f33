"""The bucketed virtual-clock TTL stage (``streaming/ttl.py::ttl_kv_ops``).

The stage groups by ``pmod(xxhash64(key), BUCKETS)`` and runs the per-key
kernel (``_virtual_kernel``) once per key present in a batch, so its
outcomes and each key's surviving slot must equal the per-key kernel's run
separately for each key. The property test checks that without Spark; the
Spark tests pin the write bound per batch, the blob's layout guard, the
offline decoder and the refusal of a per-key checkpoint.
"""

from __future__ import annotations

import os
import time
import uuid
from collections import Counter

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import StreamingQueryException

import spark_states_spark.streaming.ttl as ttl_mod
from spark_states_spark.config import TtlConfig
from spark_states_spark.streaming.runner import run_stream_to_table
from spark_states_spark.streaming.ttl import (
    BUCKETS,
    OPS_SCHEMA,
    OUTPUT_SCHEMA,
    _bucket_kernel,
    _decode,
    _virtual_kernel,
    read_ttl_state,
    state_schema,
    ttl_kv_ops,
)

COLUMNS = ["key", "op", "value", "ts_s", "seq"]


class FakeGroupState:
    def __init__(self):
        self.row = None

    @property
    def exists(self):
        return self.row is not None

    @property
    def get(self):
        return self.row

    def update(self, row):
        self.row = tuple(row)

    def remove(self):
        self.row = None


def _outcomes(frames) -> Counter:
    return Counter(
        (r.key, int(r.ts_s), bool(r.found), None if pd.isna(r.value) else int(r.value))
        for f in frames
        for r in f.itertuples(index=False)
    )


def per_key_run(bindings, batches):
    """The per-key stage: one ``_virtual_kernel`` group per key and batch.
    Returns (outcome multiset, {key: surviving slot row})."""
    kernel, states, frames = _virtual_kernel(bindings), {}, []
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=COLUMNS)
        # dropna=False: pandas otherwise drops the null key's group.
        for _, rows in pdf.groupby("key", sort=False, dropna=False):
            key = rows["key"].iat[0]
            state = states.setdefault(key, FakeGroupState())
            frames += kernel((key,), iter([rows]), state)
    return _outcomes(frames), {k: s.row for k, s in states.items() if s.exists}


def bucket_run(bindings, batches, bucket_of):
    """The bucketed stage with a test-chosen key -> bucket map. Returns
    (outcome multiset, {key: surviving slot row} decoded from the blobs)."""
    kernel, states, frames = _bucket_kernel(bindings), {}, []
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=COLUMNS)
        for b in sorted({bucket_of[k] for k in pdf["key"]}):
            rows = pdf[[bucket_of[k] == b for k in pdf["key"]]]
            state = states.setdefault(b, FakeGroupState())
            frames += kernel((b,), iter([rows]), state)
    slots = {}
    for state in states.values():
        if state.exists:
            table = _decode(state.get[0])
            for r in table.to_pylist():
                key = r.pop("key")
                slots[key] = tuple(r.values())
    return _outcomes(frames), slots


@st.composite
def streams(draw):
    keys = draw(st.lists(st.sampled_from("abcdef"), min_size=2, max_size=5,
                         unique=True))
    keys.append(None)
    buckets = draw(st.lists(st.integers(0, 2), min_size=len(keys), max_size=len(keys)))
    buckets[0] = buckets[1] = 0  # at least two keys share a bucket
    ops = draw(
        st.lists(
            st.tuples(
                st.sampled_from(keys),
                st.sampled_from(["put", "get", "get", "remove"]),
                st.integers(0, 99),
                st.integers(0, 30),
            ),
            min_size=1,
            max_size=60,
        )
    )
    rows = sorted(
        ((k, op, v, ts, seq) for seq, (k, op, v, ts) in enumerate(ops)),
        key=lambda r: (r[3], r[4]),
    )
    widths = draw(st.lists(st.integers(1, 12), min_size=1, max_size=5))
    batches, i = [], 0
    for w in widths:
        if i < len(rows):
            batches.append(rows[i : i + w])
            i += w
    if i < len(rows):
        batches.append(rows[i:])
    return batches, dict(zip(keys, buckets))


@given(
    stream=streams(),
    cfgs=st.lists(
        st.tuples(st.sampled_from([-1, 0, 1, 3, 10]), st.booleans()),
        min_size=1,
        max_size=3,
    ),
    bare=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_bucket_kernel_matches_per_key_kernel(stream, cfgs, bare):
    batches, bucket_of = stream
    bindings = {
        f"b{i}": TtlConfig(query_name="prop", ttl_secs=t, strict=s)
        for i, (t, s) in enumerate(cfgs)
    }
    if bare and len(bindings) == 1:
        bindings = bindings["b0"]
    assert bucket_run(bindings, batches, bucket_of) == per_key_run(bindings, batches)


def _bucket_state(bindings) -> FakeGroupState:
    state = FakeGroupState()
    pdf = pd.DataFrame([("a", "put", 1, 0, 0), ("b", "put", 2, 0, 1)], columns=COLUMNS)
    list(_bucket_kernel(bindings)((0,), iter([pdf]), state))
    assert state.exists
    return state


def _read_back(bindings, state):
    pdf = pd.DataFrame([("a", "get", None, 1, 2)], columns=COLUMNS)
    return list(_bucket_kernel(bindings)((0,), iter([pdf]), state))


def test_blob_of_another_bucket_count_raises(monkeypatch):
    """The bucket count is part of the layout: a blob written under another
    BUCKETS holds keys that now hash elsewhere, so it must not be read."""
    cfg = TtlConfig("q", 10, strict=True)
    state = _bucket_state(cfg)
    monkeypatch.setattr(ttl_mod, "BUCKETS", BUCKETS * 2)
    with pytest.raises(ValueError, match="another state layout"):
        _read_back(cfg, state)


def test_blob_of_other_bindings_raises():
    """A changed set of bindings, or a bare TtlConfig read as a one-binding
    mapping, would misread the slots: both raise."""
    cfg = TtlConfig("q", 10, strict=True)
    state = _bucket_state({"x": cfg, "y": cfg})
    with pytest.raises(ValueError, match="another state layout"):
        _read_back({"x": cfg, "z": cfg}, state)
    state = _bucket_state(cfg)
    with pytest.raises(ValueError, match="another state layout"):
        _read_back({"x": cfg}, state)
    assert [len(f) for f in _read_back(cfg, state)] == [1]


# --- on Spark ------------------------------------------------------------

N_KEYS = 4 * BUCKETS + 7  # every batch touches more keys than buckets


def _write_batches(tmp_path, batches) -> str:
    """One parquet file per batch, mtimes in batch order."""
    d = tmp_path / f"ops_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    base = time.time() - 1000
    for i, batch in enumerate(batches):
        pdf = pd.DataFrame(batch, columns=COLUMNS)
        pdf["value"] = pd.array(pdf["value"], dtype="Int64")
        p = str(d / f"batch_{i:03d}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (base + i, base + i))
    return str(d)


def _stream(spark, src):
    reader = spark.readStream.schema(OPS_SCHEMA).option("maxFilesPerTrigger", 1)
    return reader.parquet(src)


def _ops_batches():
    """Three batches over N_KEYS keys: puts, then gets and puts with some
    removes, then gets late enough that the short binding expires."""
    keys = [f"k{i:03d}" for i in range(N_KEYS)]
    seq = iter(range(10**6))
    b0 = [(k, "put", i, 0, next(seq)) for i, k in enumerate(keys)]
    b1 = [
        (k, op, i + 100, 4, next(seq))
        for i, k in enumerate(keys)
        for op in (["get", "put"] if i % 3 else ["remove", "get"])
    ]
    b2 = [(k, "get", None, 12 + i % 2, next(seq)) for i, k in enumerate(keys) if i % 2]
    return [b0, b1, b2]


BINDINGS = {
    "short": TtlConfig("q", 6, strict=True),
    "lazy": TtlConfig("q", 100, strict=False),
}


def test_bucketed_drain_write_bound_and_decoded_state(spark, tmp_path):
    """A real drain whose batches each touch more than BUCKETS keys writes at
    most BUCKETS state rows per batch, and ``read_ttl_state`` returns exactly
    the live (binding, key) slots that the per-key kernel predicts."""
    batches = _ops_batches()
    ckpt = str(tmp_path / "ckpt")
    out, progress = run_stream_to_table(
        ttl_kv_ops(_stream(spark, _write_batches(tmp_path, batches)), BINDINGS),
        "append",
        checkpoint_location=ckpt,
        with_progress=True,
    )
    data = [p for p in progress if p["numInputRows"] > 0]
    assert len(data) == len(batches)
    for p, batch in zip(data, batches):
        assert len({r[0] for r in batch}) > BUCKETS
        op = p["stateOperators"][0]
        assert op["numRowsTotal"] <= BUCKETS, op
        assert op["customMetrics"]["rocksdbPutCount"] <= BUCKETS, op

    outcomes, slots = per_key_run(BINDINGS, batches)
    got = Counter((r.key, r.ts_s, r.found, r.value) for r in out.collect())
    assert got == outcomes
    names = sorted(BINDINGS)
    expected = {
        (names[i], key, row[3 * i], row[3 * i + 1])
        for key, row in slots.items()
        for i in range(len(names))
        if row[3 * i + 2]
    }
    assert {b for b, *_ in expected} == set(names)  # both bindings hold keys
    decoded = [tuple(r) for r in read_ttl_state(spark, ckpt).collect()]
    assert len(decoded) == len(expected)
    assert set(decoded) == expected


def test_per_key_checkpoint_is_refused_at_start(spark, tmp_path):
    """A checkpoint of the per-key stage (one (v0, a0, h0) row per key) does
    not restore into the bucketed stage: Spark's state schema check stops
    the query before its first batch runs."""
    cfg = TtlConfig("q", -1, strict=True)
    src = _write_batches(tmp_path, [[("a", "put", 1, 0, 0)]])
    ckpt = str(tmp_path / "ckpt")
    per_key = _stream(spark, src).groupBy("key").applyInPandasWithState(
        _virtual_kernel(cfg),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=state_schema(1),
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    run_stream_to_table(per_key, "append", checkpoint_location=ckpt)
    more = pd.DataFrame([("a", "get", None, 1, 1)], columns=COLUMNS)
    more["value"] = pd.array(more["value"], dtype="Int64")
    more.to_parquet(os.path.join(src, "batch_999.parquet"))
    with pytest.raises(
        StreamingQueryException, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"
    ):
        run_stream_to_table(
            ttl_kv_ops(_stream(spark, src), cfg), "append", checkpoint_location=ckpt
        )
    commits = os.listdir(os.path.join(ckpt, "commits"))
    assert [n for n in commits if n.isdigit()] == ["0"]  # no batch ran
