"""The runner's one sink: per-batch blocks in slots keyed by ``batchId``.

A drain restarted on its checkpoint in the same lifetime scope must return
what one uninterrupted drain returns, in update and complete mode alike,
and the scope must own exactly the blocks the sink keeps: one per batch
that wrote rows in append mode, the newest batch's alone in complete mode.
The sink holds only batches committed on its checkpoint.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_states_spark import lifetime
from spark_states_spark.streaming.runner import _keyed_sink, run_stream_to_table

SCHEMA = "k STRING, v LONG"
CHUNKS = [
    [("a", 1), ("b", 2)],
    [("a", 3), ("c", 4)],
    [("b", 5), ("d", 6)],
    [("a", 7), ("e", 8)],
]


def _stage(src: str, chunks, first: int = 0) -> None:
    """Write each chunk as one parquet file; increasing mtimes make the
    file source replay them in order, one per micro-batch."""
    os.makedirs(src, exist_ok=True)
    base = time.time() - 1000
    for i, rows in enumerate(chunks, first):
        p = os.path.join(src, f"chunk_{i:03d}.parquet")
        pd.DataFrame(rows, columns=["k", "v"]).to_parquet(p)
        os.utime(p, (base + i, base + i))


def _stream(spark, src: str):
    return (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )


def _counts(spark, src: str):
    return _stream(spark, src).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("total")
    )


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture
def tag(spark):
    tag = f"test_keyed_sink_{uuid.uuid4().hex[:8]}"
    yield tag
    lifetime.release(spark, tag)


def test_update_restart_equals_one_drain(spark, tmp_path, tag):
    """Drain 2 of 4 chunks on a checkpoint, add the other 2 and drain
    again in the same scope: the rows equal one uninterrupted 4-chunk
    drain's, batch for batch."""
    whole = str(tmp_path / "whole")
    _stage(whole, CHUNKS)
    expected = _rows(run_stream_to_table(_counts(spark, whole), "update"))

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _stage(src, CHUNKS[:2])
    with lifetime.scope(tag):
        first = _rows(
            run_stream_to_table(
                _counts(spark, src), "update", checkpoint_location=ckpt
            )
        )
        _stage(src, CHUNKS[2:], first=2)
        resumed = run_stream_to_table(
            _counts(spark, src), "update", checkpoint_location=ckpt
        )
    assert 0 < sum(first.values()) < sum(expected.values())
    assert _rows(resumed) == expected


def test_complete_restart_without_new_data_keeps_result(spark, tmp_path, tag):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _stage(src, CHUNKS)
    with lifetime.scope(tag):
        first = _rows(
            run_stream_to_table(
                _counts(spark, src), "complete", checkpoint_location=ckpt
            )
        )
        again = run_stream_to_table(
            _counts(spark, src), "complete", checkpoint_location=ckpt
        )
    assert len(first) == 5
    assert _rows(again) == first


def test_scope_owns_one_block_per_kept_slot(spark, tmp_path, tag):
    """Complete mode keeps only the newest batch's block; append mode
    keeps one block per batch that wrote rows (the last chunk's rows are
    all filtered out, so its batch leaves none)."""
    src = str(tmp_path / "src")
    _stage(src, CHUNKS)
    with lifetime.scope(tag):
        run_stream_to_table(_counts(spark, src), "complete")
    assert len(lifetime.owned(spark, tag).rdd_ids) == 1
    lifetime.release(spark, tag)

    with lifetime.scope(tag):
        out = run_stream_to_table(_stream(spark, src).where(F.col("v") < 7), "append")
    assert len(lifetime.owned(spark, tag).rdd_ids) == 3
    assert out.count() == 6
    lifetime.release(spark, tag)
    assert not lifetime.owned(spark, tag).rdd_ids


def test_reused_checkpoint_path_starts_empty(spark, tmp_path, tag):
    """A checkpoint path deleted and reused in the same scope starts a
    new query: its result must not include the old query's slots."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _stage(src, CHUNKS)
    with lifetime.scope(tag):
        run_stream_to_table(_counts(spark, src), "update", checkpoint_location=ckpt)
        shutil.rmtree(ckpt)
        empty = str(tmp_path / "empty")
        os.makedirs(empty)
        out = run_stream_to_table(
            _counts(spark, empty), "update", checkpoint_location=ckpt
        )
    assert out.count() == 0
    assert not lifetime.owned(spark, tag).rdd_ids


def test_reader_drops_uncommitted_batch(spark, tmp_path, tag):
    """A batch whose sink write ran but which never committed (a batch
    ``query.stop()`` interrupts) is not in the reader's result."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _stage(src, CHUNKS[:2])
    df = _counts(spark, src)
    with lifetime.scope(tag):
        first = _rows(run_stream_to_table(df, "update", checkpoint_location=ckpt))
        write, read = _keyed_sink(spark, ckpt, "update", df.schema)
        write(spark.createDataFrame([("z", 1, 9)], df.schema), 2)
        out = read()
    assert _rows(out) == first


def test_rolled_back_checkpoint_drops_later_slots(spark, tmp_path, tag):
    """Restoring an early copy of the checkpoint rolls the sink back with
    it: a drain on the restored copy with no new input returns only the
    batches the copy committed, and the later slots are unpinned."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    snap = str(tmp_path / "snap")
    _stage(src, CHUNKS[:2])
    with lifetime.scope(tag):
        first = _rows(
            run_stream_to_table(_counts(spark, src), "update", checkpoint_location=ckpt)
        )
        kept = set(lifetime.owned(spark, tag).rdd_ids)
        shutil.copytree(ckpt, snap)
        _stage(src, CHUNKS[2:], first=2)
        run_stream_to_table(_counts(spark, src), "update", checkpoint_location=ckpt)
        shutil.rmtree(ckpt)
        shutil.copytree(snap, ckpt)
        for i in (2, 3):
            os.remove(os.path.join(src, f"chunk_{i:03d}.parquet"))
        out = _rows(
            run_stream_to_table(_counts(spark, src), "update", checkpoint_location=ckpt)
        )
        assert out == first
        assert lifetime.owned(spark, tag).rdd_ids == kept
