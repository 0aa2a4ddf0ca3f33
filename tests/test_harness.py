"""harness.py, the measurement helper bench.py, scalecheck.py and
scaleprobe.py share. The cases each script's own tests cover (baseline
reading, the ratio and budget flags, the re-run cap, the median ratio,
the isolated run) live with those tests; these pin the rest, plus the
guard that keeps the measurement code in one place."""

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
import harness  # noqa: E402


def _write(root, name, data):
    with open(os.path.join(root, name), "w") as fh:
        fh.write(data if isinstance(data, str) else json.dumps(data))


def test_newest_artifact_prefixes_do_not_cross(tmp_path):
    root = str(tmp_path)
    _write(root, "SCALEPROBE100x_r09.json", {"entries": {"a": 1}})
    _write(root, "SCALEPROBE_r08.json", {"entries": {"a": 2}})
    _write(root, "SCALEPROBE100x.json", {"entries": {"a": 3}})  # no round
    _write(root, "BENCH_FULL_r15.json", {"queries": {}})
    _write(root, "BENCH_r14.json", {"queries": {}})
    _write(root, "BENCH_r15_c8.json", {"queries": {}})  # companion box
    assert harness.newest_artifact("SCALEPROBE100x", 10, root)[0] == 9
    assert harness.newest_artifact("SCALEPROBE", 10, root)[0] == 8
    assert harness.newest_artifact("BENCH", 0, root)[0] == 14
    assert harness.newest_artifact("BENCH_FULL", 0, root)[0] == 15


def test_newest_artifact_unwraps_driver_record_and_degrades(tmp_path):
    root = str(tmp_path)
    assert harness.newest_artifact("BENCH", 0, root) is None
    _write(root, "BENCH_r08.json", {"n": 8, "rc": 0, "tail": "...",
                                    "parsed": {"core_total": 41.266}})
    assert harness.newest_artifact("BENCH", 0, root) == (8, {"core_total": 41.266})
    _write(root, "BENCH_r09.json", "{not json")
    assert harness.newest_artifact("BENCH", 0, root) is None
    _write(root, "BENCH_r09.json", "[1, 2]")
    assert harness.newest_artifact("BENCH", 0, root) is None


def _stamp(value):
    return lambda name: {"isolated_s": value}


def test_rule_two_sided_drift_gates_on_swept_seconds():
    prev = {"up": 6.0, "down": 6.5, "stable": 6.07, "fast": 6.0}
    now = {"up": 18.0, "down": 2.0, "stable": 6.0, "fast": 30.0}
    swept = {"up": 30.0, "down": 10.0, "stable": 30.0, "fast": 0.3}
    rows = harness.adjudicate(now, prev, _stamp(1.0), swept=swept,
                              two_sided=True)
    assert [r["entry"] for r in rows] == ["down", "up"]
    assert rows[1]["over"] == 1.5


def test_rule_never_raises_on_degenerate_rows():
    def boom(name):
        raise RuntimeError("rerun boom")

    # prev 0 (one-sided, floored: flagged), a rerun that raises.
    rows = harness.adjudicate({"zero_prev": 5.0}, {"zero_prev": 0.0}, boom)
    assert rows[0]["over"] == 5.0
    assert "rerun boom" in rows[0]["note"]
    # Two-sided: a memo-served sweep ratio of 0.0, prev 0, junk prev.
    now = {"zero_ratio": 0.0, "zero_prev": 5.0, "junk": 5.0, "none": None}
    prev = {"zero_ratio": 6.0, "zero_prev": 0.0, "junk": "n/a", "none": 1.0}
    swept = {k: 30.0 for k in now}
    assert harness.adjudicate(now, prev, boom, swept=swept, two_sided=True) == []


def test_bench_publishes_min_of_swept_and_isolated():
    """A re-run entry publishes min(swept, isolated) — the
    isolated run clears memos, so it can read slower than a swept entry."""
    swept = {"noise": 6.0, "real": 6.0, "memo_read": 1.2, "fine": 1.0}
    prev = {"noise": 2.0, "real": 2.0, "memo_read": 0.2}
    iso = {"noise": 2.1, "real": 7.0, "memo_read": 1.5}
    rows = harness.adjudicate(
        swept, prev, lambda q: {"isolated_s": iso[q]}, budget=5.0)
    published = bench._published(swept, rows)
    assert published == {"noise": 2.1, "real": 6.0, "memo_read": 1.2,
                         "fine": 1.0}
    # The swept value stays in the adjudication row.
    assert {r["entry"]: r["swept"] for r in rows}["noise"] == 6.0


def test_fit_line_warns_when_carried_set_overflows(capsys):
    """A carried set that alone overflows is counted against
    the budget as it goes in, and the dropped names are named on stderr."""
    timings = {f"carried_entry_{i:03d}": float(i) for i in range(40)}
    carried = list(timings)
    line = harness.fit_line({"metric": "m"}, timings, carried, budget=400)
    assert len(line) <= 400
    kept = json.loads(line)["queries"]
    dropped = [n for n in carried if n not in kept]
    assert kept and dropped
    err = capsys.readouterr().err
    assert err.count("WARN") == 1
    assert all(n in err for n in dropped)
    assert not any(n in err for n in kept)


def test_fit_line_drops_trailing_keys_when_fixed_keys_overflow():
    record = {"metric": "m", "n": 1, "sf_dir": "/x" * 300}
    assert json.loads(harness.fit_line(record, budget=100)) == {
        "metric": "m", "n": 1}


def test_cpus_stamp(monkeypatch):
    class Ctx:
        defaultParallelism = 7

    spark = type("S", (), {"sparkContext": Ctx()})()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert harness.cpus(spark) == 4
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert harness.cpus(spark) == 7
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert harness.cpus(spark) == 7


def test_measurement_copies_live_only_in_harness():
    """The provider unload, the row-tracking conf and the round-artifact
    glob each have one copy, in harness.py."""
    pattern = re.compile(r"StateStore\.stop|trackTotalNumberOfRows|_r\(\\d\+\)")
    for script in ("bench.py", "scalecheck.py", "scaleprobe.py"):
        with open(os.path.join(REPO, script)) as fh:
            hits = [ln for ln in fh if pattern.search(ln)]
        assert not hits, f"{script}: {hits}"
    with open(os.path.join(REPO, "harness.py")) as fh:
        text = fh.read()
    for needle in ("StateStore.stop", "trackTotalNumberOfRows", r"_r(\d+)"):
        assert needle in text
