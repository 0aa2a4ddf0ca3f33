"""Checkpoint corruption behavior — parity DIFFERENCE, encoded as a test.

The reference degrades: a corrupted newest snapshot falls back to the
previous snapshot, and with no readable snapshot it silently starts an
EMPTY store (RocksDbStateStoreProviderSuite.scala:106-133 "Corrupted
snapshots": version→version−1→∅). Spark's built-in RocksDB provider makes
the opposite call: corrupted/missing state files FAIL the restarted query
(fail-fast beats silently recomputing on an empty store — an empty-store
fallback wipes aggregation history without any signal to the operator).

This test pins the Spark behavior so the difference is load-bearing and
documented (PARITY.md row 11a), not accidental.
"""

import glob
import os
import time
import uuid

import pandas as pd
import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from spark_states_spark.streaming.ttl import OPS_SCHEMA

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_batch(src_dir, rows, mtime):
    os.makedirs(src_dir, exist_ok=True)
    pdf = pd.DataFrame(
        [
            {"key": k, "op": op, "value": v, "ts_s": ts, "seq": j}
            for j, (k, op, v, ts) in enumerate(rows)
        ]
    )
    pdf["value"] = pd.array(pdf["value"], dtype="Int64")
    pdf["ts_s"] = pdf["ts_s"].astype("int64")
    pdf["seq"] = pdf["seq"].astype("int64")
    p = os.path.join(src_dir, f"batch_{uuid.uuid4().hex[:8]}.parquet")
    pdf.to_parquet(p)
    os.utime(p, (mtime, mtime))


def _run_counts(spark, src_dir, ckpt):
    stream = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = stream.groupBy("key").count()
    name = f"rec_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_corrupted_state_files_fail_restart_not_degrade(spark, tmp_path):
    """Spark's RocksDB provider fails a restart over corrupted state files
    where the reference would degrade older-snapshot → empty store."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = time.time() - 100
    _write_batch(src, [("a", "put", 1, 0), ("b", "put", 2, 0)], base)
    out = _run_counts(spark, src, ckpt)
    assert out.count() == 2

    # Corrupt EVERY committed state artifact (changelogs and any zip
    # snapshots) — the analogue of the reference suite's corruptSnapshot.
    state_files = [
        f
        for pat in ("*.zip", "*.changelog")
        for f in glob.glob(
            os.path.join(ckpt, "state", "**", pat), recursive=True
        )
    ]
    assert state_files, "no RocksDB state artifacts found under checkpoint"
    for f in state_files:
        with open(f, "wb") as fh:
            fh.write(b"corrupted-not-a-state-file")

    # New input forces the restarted query to load prior state.
    _write_batch(src, [("a", "put", 3, 1)], base + 10)
    with pytest.raises(StreamingQueryException):
        _run_counts(spark, src, ckpt)


def test_failed_batch_not_committed_restart_recomputes(spark, tmp_path):
    """Abort semantics at query granularity (PARITY row 6, StateStore.abort
    Provider.scala:222-238): a batch that fails AFTER its stateful tasks ran
    leaves no committed version — the restart re-executes that batch from
    the last committed state, and the final aggregate carries no duplicate
    or partial effects from the failed attempt."""
    import os as _os
    import uuid as _uuid

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    marker = str(tmp_path / "fail_once")
    base = time.time() - 100
    _write_batch(src, [("a", "put", 1, 0), ("b", "put", 2, 0)], base)
    _write_batch(src, [("a", "put", 3, 1), ("c", "put", 4, 1)], base + 10)

    captured: dict[int, dict] = {}

    def fb(df, batch_id):
        rows = df.collect()  # forces the stateful tasks to execute
        if batch_id == 1 and not _os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("injected failure after state execution")
        captured[batch_id] = {r["key"]: r["count"] for r in rows}

    def run():
        stream = (
            spark.readStream.schema(OPS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = stream.groupBy("key").count()
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(fb)
            .queryName(f"ab_{_uuid.uuid4().hex[:10]}")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        run()
    assert _os.path.exists(marker), "failure was never injected"
    assert 1 not in captured, "failed batch must not reach the sink"

    run()  # restart on the same checkpoint re-runs batch 1
    assert captured[1] == {"a": 2, "b": 1, "c": 1}


def test_task_retry_aborts_and_recommits_state(tmp_path):
    """Abort semantics at TASK granularity — the reference's abort path
    (Provider.scala:222-238 discards the uncommitted version; Spark task
    retry re-opens the store at the committed base). A post-aggregation UDF
    fails the state-writing task's first attempt mid-batch; the retry must
    produce exactly-once aggregates. Runs in a subprocess: task retries
    need a `local[N,maxFailures]` master, which is fixed per JVM."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import os, sys, tempfile, time
        import pandas as pd
        from pyspark.sql import SparkSession, functions as F
        from spark_states_spark.session import build_session

        marker = sys.argv[1]
        spark = build_session(master="local[2,2]", app_name="task_retry")
        spark.sparkContext.setLogLevel("ERROR")

        src = tempfile.mkdtemp()
        pdf = pd.DataFrame({
            "key": ["a", "a", "b"],
            "ts": pd.to_datetime(["2024-01-01"] * 3),
        })
        pdf.to_parquet(os.path.join(src, "b0.parquet"))

        @F.udf("long")
        def fail_once(n):
            if not os.path.exists(marker):
                open(marker, "w").close()
                raise RuntimeError("injected task failure")
            return n

        stream = spark.readStream.schema("key string, ts timestamp").parquet(src)
        agg = (stream.groupBy("key").count()
               .select("key", fail_once(F.col("count")).alias("n")))
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName("tr").option("checkpointLocation", tempfile.mkdtemp())
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = {r["key"]: r["n"] for r in spark.table("tr").collect()}
        assert os.path.exists(marker), "failure never injected"
        assert got == {"a": 2, "b": 1}, f"wrong counts after retry: {got}"
        print("TASK_RETRY_OK")
        spark.stop()
        """
    )
    marker = str(tmp_path / "task_marker")
    res = subprocess.run(
        [sys.executable, "-c", script, marker],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert "TASK_RETRY_OK" in res.stdout, res.stderr[-3000:]


def test_old_state_versions_cleaned_up(spark, tmp_path):
    """Maintenance GC (PARITY row 12, Provider.doMaintenance
    Provider.scala:411-418 + cleanup :573-592): with
    ``minBatchesToRetain=2``, state files of old versions are deleted by
    the maintenance thread and retention stays bounded — the 'Cleaning up'
    suite (RocksDbStateStoreProviderSuite.scala:85-104) re-expressed on
    Spark's provider.

    Premise: every version's snapshot is uploaded before the next commit,
    as the reference's full snapshot per commit gives. Under changelog
    checkpointing ``minDeltasForSnapshot=1`` only queues a snapshot per
    commit; ``RocksDB.doMaintenance`` uploads the newest queued snapshot
    on each pass and drops the older ones, and ``deleteOldVersions`` keeps
    everything from the newest uploaded snapshot that is
    <= maxSnapshot - minBatchesToRetain + 1. A free-running trigger that
    commits several versions per maintenance pass leaves gaps between the
    uploaded snapshots (e.g. zips {3, 6} keep {3, 4, 5, 6}), so the case
    paces its batches: one source file at a time, and the next one only
    after ``<v>.zip`` is present in every store partition. Snapshots 1..6
    are then all uploaded, the cut is 5, and {5, 6} is kept ({4, 5, 6} if
    the last deletion pass runs one upload behind).

    The 300 ms ``maintenanceInterval`` below takes effect only when this
    is the JVM's first stateful query (tests/conftest.py pins 1 s before
    any test runs); the paced loop does not depend on it."""
    import glob as _glob
    import uuid as _uuid

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    base = time.time() - 100
    n_batches = 6

    confs = {
        "spark.sql.streaming.minBatchesToRetain": "2",
        "spark.sql.streaming.stateStore.maintenanceInterval": "300ms",
        # queue a snapshot at every commit so each version can be uploaded.
        # NOTE: the RocksDB provider reads the generic key below (its
        # RocksDBConf entry is SQLConf-backed); the rocksdb.-prefixed
        # spelling is NOT consulted for this setting.
        "spark.sql.streaming.stateStore.minDeltasForSnapshot": "1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        stream = (
            spark.readStream.schema(OPS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = stream.groupBy("key").count()
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(f"gc_{_uuid.uuid4().hex[:10]}")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60

            def version_files():
                # N.changelog / N.zip are version artifacts; the shared
                # SSTs/ dir and _metadata are not version-numbered
                out = set()
                for pat in ("*.changelog", "*.zip"):
                    for f in _glob.glob(
                        os.path.join(ckpt, "state", "**", pat), recursive=True
                    ):
                        stem = os.path.basename(f).split(".")[0]
                        if stem.isdigit():
                            out.add(int(stem))
                return out

            def snapshot_count(v):
                # (store partitions holding <v>.zip, store partitions)
                parts = [
                    d
                    for d in _glob.glob(os.path.join(ckpt, "state", "0", "*"))
                    if os.path.basename(d).isdigit()
                ]
                zips = [os.path.join(d, f"{v}.zip") for d in parts]
                return sum(map(os.path.exists, zips)), len(parts)

            # Batch i commits version i + 1. A partition's <v>.zip is only
            # deleted once a later zip exists, so each wait below ends.
            for i in range(n_batches):
                _write_batch(src, [("a", "put", i, i)], base + i)
                q.processAllAvailable()
                v = i + 1
                done, parts = snapshot_count(v)
                while time.time() < deadline and not (parts and done == parts):
                    time.sleep(0.3)
                    done, parts = snapshot_count(v)
                assert parts and done == parts, (
                    f"snapshot of version {v} uploaded in {done} of {parts} "
                    "store partitions before the deadline"
                )
            # GC: old versions disappear. Deletion passes ride on snapshot
            # uploads, so the final pass may run one version behind the
            # last upload — the property pinned is BOUNDED retention
            # (storage does not grow with stream length).
            while time.time() < deadline and (
                not version_files() or min(version_files()) < n_batches - 2
            ):
                time.sleep(0.3)
            vs = version_files()
            assert max(vs) >= n_batches, f"not all batches committed: {vs}"
            assert min(vs) >= n_batches - 2, (
                f"old state versions never cleaned up: {sorted(vs)}"
            )
            assert len(vs) <= 3, f"retention window unbounded: {sorted(vs)}"
        finally:
            q.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_foreachbatch_sink_not_replayed_after_restart(spark, tmp_path):
    """Exactly-once sink contract across restarts: after a drained run,
    restarting the same query from the same checkpoint must fire ZERO new
    foreachBatch invocations — committed batch versions are never
    re-executed (the recovery face of Provider.scala:44-47's one-version-
    per-commit contract). The ledger records (batchId, rowCount) per
    invocation; an idempotent production sink would additionally key its
    writes by batchId, which this test's ledger makes observable."""
    import json

    from pyspark.sql import functions as F

    from spark_states_spark.sources import chunked_stream

    ledger = tmp_path / "ledger.jsonl"
    ckpt = str(tmp_path / "ckpt")

    def sink(df, batch_id):
        with open(ledger, "a") as f:
            f.write(json.dumps({"batch": batch_id, "rows": df.count()}) + "\n")

    def run_once():
        ev = chunked_stream(spark, "/root/testdata/sf0.001", "events")
        agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = ledger.read_text().splitlines()
    assert len(first) > 1, "expected a multi-batch drain"
    batch_ids = [json.loads(l)["batch"] for l in first]
    assert batch_ids == sorted(set(batch_ids)), "batch ids must be unique+ordered"

    run_once()  # same checkpoint, same (fully-consumed) source
    second = ledger.read_text().splitlines()
    assert second == first, (
        "restart re-invoked foreachBatch on committed batches: "
        f"{second[len(first):]}"
    )


def test_funnel_state_survives_checkpoint_restart(spark, tmp_path):
    """The streaming funnel's per-user stage record must resume from
    committed state across a restart: a signup arriving in the SECOND run
    only produces a stage-2 transition if the first run's k1 slot was
    recovered from the checkpoint (a lost state record would silently
    re-gate the funnel — no error, just a missing conversion)."""
    import os
    import time

    import pandas as pd

    from spark_states_spark.streaming.queries import (
        FUNNEL_OUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        funnel_kernel,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        # Stage ints, matching the JVM-side event_type -> stage mapping
        # _funnel_transitions applies before the kernel (r10).
        p = os.path.join(src, name)
        pd.DataFrame(rows, columns=["user_id", "stage", "t", "e"]).astype(
            {"user_id": "int64", "stage": "int32", "t": "int64", "e": "int64"}
        ).to_parquet(p)
        os.utime(p, (time.time(), time.time()))

    def drain():
        import uuid

        from pyspark.sql.streaming.state import GroupStateTimeout

        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        transitions = stream.groupBy("user_id").applyInPandasWithState(
            funnel_kernel,
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # foreachBatch, not the memory sink: only foreachBatch supports
        # checkpoint RECOVERY, which is the behavior under test.
        collected = []

        def sink(df, _epoch):
            collected.extend(df.collect())

        q = (
            transitions.writeStream.outputMode("append")
            .foreachBatch(sink)
            .queryName(f"funnel_rec_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {(r.user_id, r.stage) for r in collected}

    write_batch("b0.parquet", [(7, 1, 0, 100)])
    first = drain()
    assert first == {(7, 1)}

    write_batch("b1.parquet", [(7, 2, 0, 200)])
    second = drain()  # same checkpoint: only the NEW batch is processed
    assert (7, 2) in second, "k1 slot lost across restart — no conversion"
    # and the recovered run must not re-emit stage 1
    assert (7, 1) not in second


def test_restart_recovery_phase1_staging_memo(spark, sf_dir_small):
    """VERDICT r12 #1: the restart entry's phase-1 drain is per-session
    input STAGING — a second invocation must hit the snapshot memo, re-run
    only the recovery lifecycle against restored ckpt/sink state, and
    produce identical results; bench's per-entry memo clearing must leave
    the staging memo alone, while an explicit include_staging clear
    removes the run dirs and re-pays phase 1."""
    from spark_states_spark import lifetime
    from spark_states_spark.catalog import clear_shared_memos
    from spark_states_spark.streaming import queries as sq

    def memo():
        return lifetime.owned(spark, "restart_phase1").memo

    clear_shared_memos("streaming_restart_recovery", include_staging=True)
    assert not memo()
    first = sq.streaming_restart_recovery(spark, sf_dir_small)
    rows1 = sorted(map(tuple, first.collect()))
    assert memo(), "phase-1 snapshot not memoized"
    run_dir = next(iter(memo().values()))
    snap = os.path.join(run_dir, "snap_ckpt")
    assert os.path.isdir(snap)

    # bench-style per-entry clear (re-run path): staging memo survives
    clear_shared_memos("streaming_restart_recovery")
    assert memo(), "staging memo wrongly cleared"

    second = sq.streaming_restart_recovery(spark, sf_dir_small)
    rows2 = sorted(map(tuple, second.collect()))
    assert rows1 == rows2, "memo-hit recovery diverged from cold run"
    assert next(iter(memo().values())) == run_dir

    # explicit staging clear releases the run dir and forces re-pay
    clear_shared_memos("streaming_restart_recovery", include_staging=True)
    assert not memo()
    assert not os.path.exists(run_dir), "cleanup left the run dir behind"


def test_restart_recovery_memo_survives_fixture_alternation(
    spark, sf_dir, sf_dir_small
):
    """Review r13: a memo MISS for fixture B must not wipe fixture A's
    still-memoized run dir (the own-PID sweep predates the memo); the
    A -> B -> A alternation then hits A's snapshot instead of restoring
    into a deleted path."""
    from spark_states_spark import lifetime
    from spark_states_spark.catalog import clear_shared_memos
    from spark_states_spark.streaming import queries as sq

    clear_shared_memos("streaming_restart_recovery", include_staging=True)
    rows_a1 = sorted(
        map(tuple, sq.streaming_restart_recovery(spark, sf_dir_small).collect())
    )
    dir_a = next(iter(lifetime.owned(spark, "restart_phase1").memo.values()))
    sq.streaming_restart_recovery(spark, sf_dir).collect()  # miss for B
    assert os.path.isdir(os.path.join(dir_a, "snap_ckpt")), (
        "fixture B's miss wiped fixture A's live snapshot dir"
    )
    rows_a2 = sorted(
        map(tuple, sq.streaming_restart_recovery(spark, sf_dir_small).collect())
    )
    assert rows_a1 == rows_a2
    clear_shared_memos("streaming_restart_recovery", include_staging=True)


def test_restart_recovery_phase2_keeps_checkpoint_partitions(spark, sf_dir_small):
    """Phase 2 restarts on phase 1's checkpoint, so Spark restores the
    state-partition count from its offset log: run under a different
    session value, it opens no new state partitions and gives the same
    answer."""
    from spark_states_spark import lifetime
    from spark_states_spark.catalog import clear_shared_memos
    from spark_states_spark.session import shuffle_partitions
    from spark_states_spark.streaming import queries as sq
    from spark_states_spark.streaming.runner import STATE_PARTS, state_parts

    def partition_dirs():
        (run_dir,) = lifetime.owned(spark, "restart_phase1").memo.values()
        state = os.path.join(run_dir, "ckpt", "state", "0")
        return sorted((d for d in os.listdir(state) if d.isdigit()), key=int)

    clear_shared_memos("streaming_restart_recovery", include_staging=True)
    want = [str(i) for i in range(state_parts(spark, STATE_PARTS))]
    rows1 = sorted(
        map(tuple, sq.streaming_restart_recovery(spark, sf_dir_small).collect())
    )
    assert partition_dirs() == want
    with shuffle_partitions(spark, int(want[-1]) + 3):
        rows2 = sorted(
            map(tuple, sq.streaming_restart_recovery(spark, sf_dir_small).collect())
        )
    assert partition_dirs() == want
    assert rows1 and rows1 == rows2
    clear_shared_memos("streaming_restart_recovery", include_staging=True)
