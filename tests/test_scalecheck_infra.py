"""scalecheck.py side-machinery (VERDICT r06 #5-6): the round-over-round
Spark-seconds regression tripwire (harness.adjudicate over the previous
SCALECHECK artifact) and the self-refreshing PARITY.md
scale-up note (two consecutive rounds saw that paragraph cite a stale
artifact — it is now generated at artifact-write time and pinned here)."""

import json
import os

import pytest

import harness
import scalecheck


def _write_artifact(root, rnd, spark_s, elapsed=100.0, n=168):
    data = {
        "sf_dir": "/x",
        "n_entries": n,
        "n_pass": n,
        "failures": {},
        "elapsed_s": elapsed,
        "entry_spark_s": spark_s,
    }
    with open(os.path.join(root, f"SCALECHECK_r{rnd:02d}.json"), "w") as fh:
        json.dump(data, fh)
    return data


def test_previous_artifact_picks_newest_below_round(tmp_path):
    root = str(tmp_path)
    _write_artifact(root, 5, {"a": 1.0})
    _write_artifact(root, 6, {"a": 2.0})
    assert harness.newest_artifact("SCALECHECK", 7, root)[0] == 6
    # never reads the round being written (a crashed re-run would self-diff)
    rnd, prev = harness.newest_artifact("SCALECHECK", 6, root)
    assert rnd == 5 and prev["entry_spark_s"] == {"a": 1.0}
    assert harness.newest_artifact("SCALECHECK", 5, root) is None


def test_previous_artifact_none_cases(tmp_path):
    assert harness.newest_artifact("SCALECHECK", 7, str(tmp_path)) is None
    bad = tmp_path / "SCALECHECK_r03.json"
    bad.write_text("{not json")
    assert harness.newest_artifact("SCALECHECK", 7, str(tmp_path)) is None


def test_spark_regressions_flags_only_real_growth():
    prev = {
        "fast": 0.1, "slow": 2.0, "gone": 1.0, "tiny_prev": 0.01,
        "real_jump": 0.3,
    }
    cur = {
        "fast": 0.4,       # 4x but under the 0.5 s floor -> noise
        "slow": 5.0,       # 2.5x above floor -> flagged
        "new": 9.0,        # no prior value -> not flagged
        "tiny_prev": 0.9,  # 90x raw, but 1.8x vs the floored denominator
        "real_jump": 5.0,  # 16.7x raw, 10x floored -> flagged
    }
    out = harness.adjudicate(cur, prev, lambda n: {"isolated_s": 1.0})
    assert [r["entry"] for r in out] == ["real_jump", "slow"]
    assert out[1]["over"] == 1.25  # 2.5x against the 2x threshold
    assert out[0]["over"] == 5.0   # 10x
    assert harness.adjudicate(cur, {}, None) == []


def test_isolated_spark_s_measures_build_plus_collect(spark, sf_dir_small):
    """The isolated re-run (memos cleared before every run)
    must produce a sane best-of-N build + collect number for any catalog
    entry — pinned on a cheap batch entry."""
    s, _df, rows = harness.best_of(
        spark, "q6_forecast_revenue", sf_dir_small, "collect", 2)
    assert 0.0 < s < 60.0 and rows


def test_refresh_parity_note_rewrites_marker_block(tmp_path):
    root = str(tmp_path)
    (tmp_path / "PARITY.md").write_text(
        "# head\n\n<!-- scalecheck:begin -->\nstale text r05\n"
        "<!-- scalecheck:end -->\n\ntail\n"
    )
    result = {"n_entries": 168, "failures": {}, "elapsed_s": 321.5, "cpus": 4}
    assert scalecheck.refresh_parity_note(result, 7, root=root)
    text = (tmp_path / "PARITY.md").read_text()
    assert "SCALECHECK_r07.json" in text
    assert "stale text" not in text
    assert "all green" in text
    # The parallelism cited is the run's stamped cpus, whatever the box.
    assert "on local[4])" in text
    assert text.startswith("# head")
    assert text.rstrip().endswith("tail")


def test_refresh_parity_note_best_effort_without_markers(tmp_path):
    (tmp_path / "PARITY.md").write_text("no markers here\n")
    result = {"n_entries": 1, "failures": {}, "elapsed_s": 1.0, "cpus": 4}
    assert not scalecheck.refresh_parity_note(result, 7, root=str(tmp_path))
    assert (tmp_path / "PARITY.md").read_text() == "no markers here\n"
    assert not scalecheck.refresh_parity_note(result, 7, root=str(tmp_path / "x"))


def test_parity_paragraph_reports_failures_loudly():
    bad = {"n_entries": 168, "failures": {"q": "boom"}, "elapsed_s": 10.0,
           "cpus": 8}
    assert "1 FAILURES" in scalecheck.parity_paragraph(bad, 7)
    assert "local[8]" in scalecheck.parity_paragraph(bad, 7)


def test_repo_parity_note_cites_newest_artifact_on_disk():
    """Doc/artifact agreement (VERDICT r06 #1 wants this impossible to
    drift): the round number cited inside PARITY.md's marker block must be
    the newest SCALECHECK artifact present in the repo."""
    import re

    newest = harness.newest_artifact("SCALECHECK")
    if newest is None:
        return
    with open(os.path.join(harness.ROOT, "PARITY.md")) as fh:
        text = fh.read()
    begin, end = scalecheck.PARITY_MARK
    block = text.split(begin, 1)[1].split(end, 1)[0]
    cited = re.search(r"SCALECHECK_r(\d+)\.json", block)
    assert cited, "PARITY scale-up note lost its artifact citation"
    assert int(cited.group(1)) == newest[0]


class FakeDF:
    """Minimal spark_df stand-in for compare(): one bigint column 'v'
    returning a single row (5,). Subclass collect() for wrong/raising
    variants."""

    columns = ["v"]

    class _F:
        name = "v"

        class _T:
            @staticmethod
            def simpleString():
                return "bigint"

        dataType = _T()

    schema = type("S", (), {"fields": [_F()]})()

    def collect(self):
        return [(5,)]


def test_oracle_cache_roundtrip_and_key_sensitivity(tmp_path):
    """VERDICT r10 #5: the content-keyed DuckDB-result cache serves a
    bit-identical re-ask from disk (same compare verdict, flagged via
    timings) and misses on any change to the SQL or fixture identity."""
    import duckdb

    from tests.oracle_utils import _oracle_cache_file, compare

    con = duckdb.connect()
    sql = "SELECT CAST(5 AS BIGINT) AS v"
    oc = (str(tmp_path), "fixture-stamp-a")
    tm = {}
    assert compare(FakeDF(), con, sql, timings=tm, oracle_cache=oc) == []
    assert "oracle_cached" not in tm
    assert os.path.exists(_oracle_cache_file(oc, sql))
    tm = {}
    assert compare(FakeDF(), con, sql, timings=tm, oracle_cache=oc) == []
    assert tm["oracle_cached"] is True
    # a cache hit must still FAIL a wrong Spark result (coverage unchanged)
    class WrongDF(FakeDF):
        def collect(self):
            return [(6,)]

    assert compare(WrongDF(), con, sql, oracle_cache=oc)
    # key sensitivity: SQL text and fixture identity each miss
    tm = {}
    compare(FakeDF(), con, sql + " ", timings=tm, oracle_cache=oc)
    assert "oracle_cached" not in tm
    tm = {}
    compare(FakeDF(), con, sql, timings=tm,
            oracle_cache=(str(tmp_path), "fixture-stamp-B"))
    assert "oracle_cached" not in tm


def test_fixture_identity_detects_timestamp_preserving_restore(tmp_path):
    """ADVICE r11: the stat stamp (mtime_ns, size) is spoofable — a
    timestamp-preserving restore (cp -p / rsync -a / tar) of a DIFFERENT
    same-sized generation collides with it. fixture_identity therefore
    folds a head+tail content sample in; this pins the exact spoof: same
    size, same mtime_ns, different bytes → different identity."""
    from spark_states_spark.sources.tables import _source_identity

    from tests.oracle_utils import _content_sample

    f = tmp_path / "events.parquet"
    f.write_bytes(b"generation-A" * 100)
    st = os.stat(f)
    stat_a, content_a = _source_identity(str(f)), _content_sample(str(f))
    f.write_bytes(b"generation-B" * 100)  # same size, different bytes
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))  # restore the stamp
    assert _source_identity(str(f)) == stat_a  # the spoof: stat collides
    assert _content_sample(str(f)) != content_a  # the sample catches it
    # directory form (multi-part fixture): sample covers members too
    d = tmp_path / "table"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 200_000)  # > 2 * 64 KiB
    big_a = _content_sample(str(d))
    # flip one byte in the untouched MIDDLE: head+tail sample by design
    # does NOT cover it (documented bound of the 128 KiB sample) — but a
    # tail flip must.
    data = bytearray(b"x" * 200_000)
    data[-1] = ord("y")
    (d / "part-0.parquet").write_bytes(bytes(data))
    assert _content_sample(str(d)) != big_a


def test_oracle_cache_write_failure_is_best_effort(tmp_path):
    """ADVICE r11: a non-OSError during the cache write (e.g. an
    unpicklable fetched value) must not fail an entry whose compare data
    is already complete — the write is best-effort like the load."""
    import duckdb

    from tests.oracle_utils import compare

    # Real DuckDB results are picklable; simulate the failure class by
    # monkeypatching pickle.dump for the duration.
    con = duckdb.connect()
    sql = "SELECT CAST(5 AS BIGINT) AS v"
    oc = (str(tmp_path), "stamp")
    import pickle as _pickle

    orig = _pickle.dump

    def boom(*a, **k):
        raise _pickle.PicklingError("synthetic unpicklable value")

    _pickle.dump = boom
    try:
        tm = {}
        assert compare(FakeDF(), con, sql, timings=tm, oracle_cache=oc) == []
    finally:
        _pickle.dump = orig


def test_oracle_overlap_thread_matches_sequential(tmp_path):
    """overlap=True must produce the identical verdict (and propagate
    oracle-side exceptions) — it only moves the DuckDB work onto a worker
    thread concurrent with the Spark collect."""
    import duckdb
    import pytest

    from tests.oracle_utils import compare

    con = duckdb.connect()
    tm = {}
    assert compare(FakeDF(), con, "SELECT CAST(5 AS BIGINT) AS v",
                   timings=tm, overlap=True) == []
    assert tm["oracle_overlapped"] is True
    assert compare(FakeDF(), con, "SELECT CAST(6 AS BIGINT) AS v",
                   overlap=True)  # mismatch still detected
    with pytest.raises(Exception):
        compare(FakeDF(), con, "SELECT FROM syntax error", overlap=True)


def test_oracle_cache_corrupt_file_degrades_to_miss(tmp_path):
    """A truncated or wrong-shape cache file must recompute (miss), never
    fail the entry — and never persist as a failure across runs."""
    import duckdb

    from tests.oracle_utils import _oracle_cache_file, compare

    con = duckdb.connect()
    sql = "SELECT CAST(5 AS BIGINT) AS v"
    oc = (str(tmp_path), "stamp")
    path = _oracle_cache_file(oc, sql)
    os.makedirs(str(tmp_path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"\x80\x04 truncated garbage")
    tm = {}
    assert compare(FakeDF(), con, sql, timings=tm, oracle_cache=oc) == []
    assert "oracle_cached" not in tm  # recomputed
    # wrong-shape but loadable pickle: also a miss
    import pickle

    with open(path, "wb") as fh:
        pickle.dump(("just", "three", "items"), fh)
    tm = {}
    assert compare(FakeDF(), con, sql, timings=tm, oracle_cache=oc) == []
    assert "oracle_cached" not in tm
    # and the recompute healed the cache
    tm = {}
    assert compare(FakeDF(), con, sql, timings=tm, oracle_cache=oc) == []
    assert tm["oracle_cached"] is True


def test_oracle_overlap_joins_worker_when_collect_raises():
    """A failed collect must JOIN the overlap worker before re-raising:
    the shared DuckDB connection must be safely reusable by the caller's
    next compare() (the sweep's per-entry containment depends on it)."""
    import duckdb
    import pytest

    from tests.oracle_utils import compare

    class BoomDF(FakeDF):
        def collect(self):
            raise RuntimeError("collect boom")

    con = duckdb.connect()
    # a deliberately slow oracle so the worker is still running when
    # collect raises — the join must wait it out
    slow_sql = (
        "SELECT CAST(5 AS BIGINT) AS v FROM range(3000000) GROUP BY 1"
    )
    with pytest.raises(RuntimeError, match="collect boom"):
        compare(BoomDF(), con, slow_sql, overlap=True)
    # connection immediately usable — no orphan thread racing it
    assert compare(FakeDF(), con, "SELECT CAST(5 AS BIGINT) AS v",
                   overlap=True) == []
