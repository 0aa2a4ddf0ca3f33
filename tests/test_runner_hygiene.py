"""PID-keyed tmp-dir hygiene (ADVICE r05): sweeps must never remove a
still-running process's live checkpoint / restart-run dir, however old,
while reclaiming dead owners' dirs promptly."""

import os
import re
import time

from spark_states_spark.streaming import runner


def _mk(parent, name, age_s=0.0):
    d = os.path.join(parent, name)
    os.makedirs(d)
    if age_s:
        t = time.time() - age_s
        os.utime(d, (t, t))
    return d


def test_sweep_keeps_live_pid_dirs_past_untagged_cutoff(tmp_path):
    parent = str(tmp_path)
    live = _mk(parent, f"ckpt_x_pid{os.getpid()}_abc", age_s=10 * 3600)
    runner.sweep_stale_dirs(parent)
    assert os.path.isdir(live)


def test_sweep_reaps_recycled_pid_dirs_past_secondary_cutoff(tmp_path):
    """ADVICE r06: a recycled PID (or a foreign process through a shared
    /tmp) must not keep a dead session's checkpoint forever. Our own PID
    stands in for the recycled one: this process started long after the
    8-day-old dir, which is exactly the recycling signature."""
    parent = str(tmp_path)
    ancient = _mk(parent, f"ckpt_x_pid{os.getpid()}_abc", age_s=8 * 24 * 3600)
    assert runner.pid_start_time(os.getpid()) is not None  # /proc available
    runner.sweep_stale_dirs(parent)
    assert not os.path.exists(ancient)


def test_sweep_keeps_genuine_old_owner_and_unknowable_start(
    tmp_path, monkeypatch
):
    """A PROVABLY-older-than-the-dir live owner (a genuine >7-day session)
    keeps its checkpoint; so does a live owner whose start time is
    unknowable (no /proc) — deleting a possibly live checkpoint is worse
    than a slow leak."""
    parent = str(tmp_path)
    old_owner = _mk(parent, f"ckpt_x_pid{os.getpid()}_abc", age_s=8 * 24 * 3600)
    monkeypatch.setattr(
        runner, "pid_start_time", lambda pid: time.time() - 30 * 24 * 3600
    )
    runner.sweep_stale_dirs(parent)
    assert os.path.isdir(old_owner)
    monkeypatch.setattr(runner, "pid_start_time", lambda pid: None)
    runner.sweep_stale_dirs(parent)
    assert os.path.isdir(old_owner)


def test_sweep_removes_dead_pid_dirs_immediately(tmp_path):
    parent = str(tmp_path)
    # find a dead pid: walk down from a large value until os.kill ENOSRCH
    pid = 99999
    while runner.pid_alive(pid):
        pid -= 1
    dead = _mk(parent, f"ckpt_x_pid{pid}_abc")  # fresh mtime, dead owner
    runner.sweep_stale_dirs(parent)
    assert not os.path.exists(dead)


def test_sweep_untagged_dirs_fall_back_to_mtime_cutoff(tmp_path):
    parent = str(tmp_path)
    fresh = _mk(parent, "legacy_fresh")
    old = _mk(parent, "legacy_old", age_s=10 * 3600)
    runner.sweep_stale_dirs(parent)
    assert os.path.isdir(fresh)
    assert not os.path.exists(old)


def test_shm_scratch_root_capacity_gate(monkeypatch):
    """r15 (VERDICT r14 #3 / ADVICE r14): the RAM-backed scratch default
    must be gated on free space — a 64 MiB Docker /dev/shm (or any tmpfs
    below the floor) falls back to the disk tempdir instead of ENOSPCing
    shuffle files and RocksDB changelogs mid-run."""
    import pytest

    from spark_states_spark import session as sess

    # A junk floor fails fast naming the variable, on every platform.
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", "eight")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHM_MIN_FREE_GIB"):
        sess.shm_scratch_root()
    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        pytest.skip("no writable /dev/shm on this platform")
    # A floor far above any real box forces the fallback...
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", "1000000")
    assert sess.shm_scratch_root() is None
    # ...and a zero floor (with no SF dir to scale against) accepts shm.
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", "0")
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    assert sess.shm_scratch_root() == "/dev/shm"
    # The ephemeral checkpoint root honors the same gate.
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", "1000000")
    monkeypatch.delenv("SPARK_GRAFT_EPHEMERAL_DIR", raising=False)
    import tempfile

    assert runner.ephemeral_root() == tempfile.gettempdir()


def test_sweep_covers_both_scratch_parents(tmp_path, monkeypatch):
    """r15: a kill -9'd process leaks RAM-backed checkpoint dirs; a later
    session whose capacity gate fell back to /tmp must still sweep the
    shm parent (VERDICT r14 What's-wrong #2)."""
    dead_pid = 4194000  # above any default pid_max on this kernel
    shm_parent = str(tmp_path / "shm" / "sss_auto_ckpts")
    tmp_parent = str(tmp_path / "tmp" / "sss_auto_ckpts")
    leaked_a = _mk(shm_parent[: -len("/sss_auto_ckpts")] + "/sss_auto_ckpts",
                   f"ckpt_x_pid{dead_pid}_a")
    leaked_b = _mk(tmp_parent, f"ckpt_y_pid{dead_pid}_b")
    monkeypatch.setattr(runner, "_AUTO_CKPT_PARENT", tmp_parent)
    monkeypatch.setattr(
        runner, "_OTHER_CKPT_PARENTS", [shm_parent], raising=True
    )
    monkeypatch.setattr(runner, "_auto_ckpts", [], raising=True)
    d = runner.auto_checkpoint_dir("probe")
    assert os.path.isdir(d)
    assert not os.path.isdir(leaked_a), "shm parent not swept"
    assert not os.path.isdir(leaked_b), "active parent not swept"


def test_auto_checkpoint_dir_embeds_owner_pid():
    d = runner.auto_checkpoint_dir("t")
    assert runner.owner_pid(os.path.basename(d)) == os.getpid()


def test_owner_pid_parsing():
    assert runner.owner_pid("ckpt_q_pid1234_xyz") == 1234
    assert runner.owner_pid("run_pid77_aaaa") == 77
    assert runner.owner_pid("legacy_dir") is None


def test_dir_size_bytes_walks_nested_layouts(tmp_path):
    """ADVICE r15 #2: the /dev/shm headroom gate sizes the fixture dir;
    a hive-partitioned or nested layout must count every file, not only
    the top level, and an unreadable path stays 0 ("unknown")."""
    from spark_states_spark.session import _dir_size_bytes

    (tmp_path / "top.parquet").write_bytes(b"x" * 10)
    nested = tmp_path / "events" / "day=1" / "hour=0"
    nested.mkdir(parents=True)
    (nested / "part-0.parquet").write_bytes(b"y" * 100)
    (tmp_path / "events" / "day=1" / "part-1.parquet").write_bytes(b"z" * 1000)
    assert _dir_size_bytes(str(tmp_path)) == 1110
    assert _dir_size_bytes(str(tmp_path / "missing")) == 0


def test_build_session_rejects_junk_cpus(monkeypatch):
    """SPARK_GRAFT_CPUS is '*' or a positive integer; anything else fails
    fast naming the variable, before any session is built."""
    import pytest

    from pyspark.sql import SparkSession

    from spark_states_spark import session as sess

    class Stop(Exception):
        pass

    def no_session(builder):
        raise Stop(builder._options["spark.master"])

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    for ok in ("*", "4", "32"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", ok)
        with pytest.raises(Stop, match=rf"^local\[{re.escape(ok)}\]$"):
            sess.build_session()
    for junk in ("", "0", "-2", "four", "2.5", " 4", "4]", "²"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", junk)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            sess.build_session()
