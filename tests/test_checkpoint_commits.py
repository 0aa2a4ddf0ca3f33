"""How a micro-batch's checkpoint files are committed.

Every offset-log entry, commit-log entry and state changelog is written to
a temp file and renamed into place (``createAtomic``). The engine's local
sessions commit checkpoints through Spark's FileSystem-based checkpoint
manager (``session.CHECKPOINT_FILE_MANAGER``): one ``fs.rename`` call per
commit, where Spark's default FileContext manager forks a ``readlink``
shell command for each side of every rename when no native Hadoop library
loads. The manager is set only where that rename replaces an existing file
(``session.use_local_checkpoint_manager``). The first test counts the
forks; the replay test re-runs a batch whose commit was lost and checks
that its state files are replaced; the rest check where the manager is
left alone.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import textwrap
import uuid
from collections import Counter

import pytest

from pyspark.sql import SparkSession

from spark_states_spark import lifetime
from spark_states_spark import session as sess
from spark_states_spark.streaming.runner import run_stream_to_table
from spark_states_spark.streaming.ttl import read_ttl_state, ttl_kv_ops

from .test_ttl_buckets import BINDINGS, _ops_batches, _stream, _write_batches

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"

_DRAIN = textwrap.dedent(
    """
    import os, sys
    import pandas as pd
    from spark_states_spark.config import TtlConfig
    from spark_states_spark.session import build_session
    from spark_states_spark.streaming.runner import run_stream_to_table
    from spark_states_spark.streaming.ttl import OPS_SCHEMA, ttl_kv_ops

    work, probe = sys.argv[1], sys.argv[2]
    spark = build_session(master="local[2]", app_name="fork_count")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    # One readlink from the JVM itself: shows its PATH reaches the shims.
    jvm.org.apache.hadoop.fs.FileUtil.readLink(jvm.java.io.File(probe))

    src = os.path.join(work, "src")
    os.makedirs(src)
    for i in range(3):
        pdf = pd.DataFrame({
            "key": [f"k{j}" for j in range(8)],
            "op": ["put", "get"][i % 2],
            "value": pd.array([i * 10 + j for j in range(8)], dtype="Int64"),
            "ts_s": i,
            "seq": range(i * 8, i * 8 + 8),
        })
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(path)
        os.utime(path, (1_000 + i, 1_000 + i))
    stream = (spark.readStream.schema(OPS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = run_stream_to_table(
        ttl_kv_ops(stream, TtlConfig("q", 10, strict=True)), "append",
        checkpoint_location=os.path.join(work, "ckpt"), parts=2,
    )
    print("DRAIN_ROWS", out.count())
    spark.stop()
    """
)


def _shim(bin_dir: str, name: str, log: str) -> None:
    """A ``name`` on ``PATH`` that logs its arguments, then runs the real
    command."""
    real = shutil.which(name)
    assert real, f"no {name} on PATH"
    path = os.path.join(bin_dir, name)
    with open(path, "w") as fh:
        fh.write(f'#!/bin/sh\necho "$*" >> {log}\nexec {real} "$@"\n')
    os.chmod(path, 0o755)


def _calls_under(log: str, root: str) -> list[str]:
    if not os.path.exists(log):
        return []
    with open(log) as fh:
        return [line for line in fh if root in line]


def test_checkpoint_commits_fork_no_readlink(tmp_path):
    """A ``ttl_kv_ops`` drain in its own JVM, with logging shims for
    ``readlink`` and ``chmod`` first on ``PATH``: no ``readlink`` runs on a
    path under the checkpoint. ``chmod`` calls are logged, not asserted."""
    bin_dir, work = tmp_path / "bin", tmp_path / "work"
    bin_dir.mkdir()
    work.mkdir()
    work = os.path.realpath(work)
    logs = {n: str(tmp_path / f"{n}.log") for n in ("readlink", "chmod")}
    for name, log in logs.items():
        _shim(str(bin_dir), name, log)
    probe = str(tmp_path / "probe")
    os.symlink(logs["chmod"], probe)
    env = {
        **os.environ,
        "PATH": f"{bin_dir}{os.pathsep}{os.environ.get('PATH', '')}",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    res = subprocess.run(
        [sys.executable, "-c", _DRAIN, work, probe],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
        env=env,
    )
    assert "DRAIN_ROWS 8" in res.stdout, res.stderr[-3000:]
    assert _calls_under(logs["readlink"], probe), "the JVM bypassed the shim"
    ckpt = os.path.join(work, "ckpt")
    chmods = len(_calls_under(logs["chmod"], ckpt))
    print(f"chmod forks under the checkpoint: {chmods}")
    assert _calls_under(logs["readlink"], ckpt) == []


@pytest.fixture
def tag(spark):
    tag = f"test_checkpoint_commits_{uuid.uuid4().hex[:8]}"
    yield tag
    lifetime.release(spark, tag)


def _drain(spark, src, ckpt):
    """(output rows, decoded TTL state, ids of the batches that ran)."""
    out, progress = run_stream_to_table(
        ttl_kv_ops(_stream(spark, src), BINDINGS),
        "append",
        checkpoint_location=ckpt,
        parts=2,
        with_progress=True,
    )
    rows = Counter(tuple(r) for r in out.collect())
    state = Counter(tuple(r) for r in read_ttl_state(spark, ckpt).collect())
    return rows, state, [p["batchId"] for p in progress if p["numInputRows"]]


def _inodes(ckpt: str, version: int) -> dict[str, int]:
    """Inode by path of each file of one state version in every partition:
    the changelog, Spark's checksum file and their Hadoop ``.crc`` files."""
    parts = glob.glob(os.path.join(ckpt, "state", "0", "*"))
    return {
        os.path.join(d, n): os.stat(os.path.join(d, n)).st_ino
        for d in parts
        for n in os.listdir(d)
        if n.lstrip(".").startswith(f"{version}.changelog")
    }


def test_replay_of_uncommitted_batch_equals_one_drain(spark, tmp_path, tag):
    """An offset logged without its commit replays exactly once: drain
    three batches, delete the newest commit and its ``.crc``, and drain
    again on the same checkpoint. Only that batch runs again, and the
    output rows and the decoded TTL state equal one uninterrupted drain's.
    The re-run replaces each state file its first attempt wrote (a new
    inode at the same path) and leaves no temp file behind."""
    assert spark.conf.get(_MANAGER_KEY) == sess.CHECKPOINT_FILE_MANAGER
    src = _write_batches(tmp_path, _ops_batches())
    rows, state, ran = _drain(spark, src, str(tmp_path / "whole"))
    assert sum(rows.values()) > 0 and len(state) > 0 and ran == [0, 1, 2]

    ckpt = str(tmp_path / "ckpt")
    commits = os.path.join(ckpt, "commits")
    with lifetime.scope(tag):
        assert _drain(spark, src, ckpt) == (rows, state, ran)
        for name in ("2", ".2.crc"):
            os.remove(os.path.join(commits, name))
        # The state version the replay rewrites, its .crc and checksum.
        first = _inodes(ckpt, 3)
        assert any(p.endswith("/3.changelog") for p in first)
        assert _drain(spark, src, ckpt) == (rows, state, [2])
    assert os.path.exists(os.path.join(commits, "2"))
    again = _inodes(ckpt, 3)
    assert again.keys() == first.keys()
    assert all(again[p] != first[p] for p in first), "a state file was kept"
    assert glob.glob(os.path.join(ckpt, "**", "*.tmp"), recursive=True) == []


def test_cluster_master_keeps_its_checkpoint_manager(monkeypatch):
    """A non-local session is left alone: ``use_local_checkpoint_manager``
    sets nothing and asks no JVM, and ``build_session`` does not replace
    the ``file:`` filesystem class."""

    class Conf:
        def set(self, key, value):
            raise AssertionError(f"set {key}")

    cluster = type("S", (), {"conf": Conf()})()
    cluster.sparkContext = type("C", (), {"master": "spark://h:7077"})()
    assert sess.use_local_checkpoint_manager(cluster) is False

    class Stop(Exception):
        pass

    def no_session(builder):
        raise Stop(builder._options)

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    for master, want in [("spark://h:7077", None), ("local[2]", sess.LOCAL_FILE_SYSTEM)]:
        with pytest.raises(Stop) as stop:
            sess.build_session(master=master)
        assert stop.value.args[0].get("spark.hadoop.fs.file.impl") == want


_VANILLA = textwrap.dedent(
    """
    import importlib.util, sys
    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location("entry", sys.argv[1])
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(spark._jsc.hadoopConfiguration())
    print("FS", fs.getClass().getName())
    entry._ensure_conf(spark)
    key = "spark.sql.streaming.checkpointFileManagerClass"
    print("MANAGER", spark.conf.get(key, "default"))
    spark.stop()
    """
)


def test_plain_session_keeps_default_manager_on_proxy_fs():
    """A plain ``SparkSession.builder`` session, built without
    ``build_session``, serves ``file:`` with the class PySpark's jars register,
    Hive's ``ProxyLocalFileSystem``, whose rename refuses an existing
    target: ``_ensure_conf`` leaves Spark's default checkpoint manager in
    place. It sets the manager only where ``file:`` is ``LocalFileSystem``."""
    res = subprocess.run(
        [sys.executable, "-c", _VANILLA, os.path.join(ROOT, "__spark_entry__.py")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    lines = dict(
        line.split(" ", 1) for line in res.stdout.splitlines() if " " in line
    )
    assert "MANAGER" in lines, res.stderr[-3000:]
    local = lines["FS"] == sess.LOCAL_FILE_SYSTEM
    assert lines["MANAGER"] == (sess.CHECKPOINT_FILE_MANAGER if local else "default")
