"""The shared funnel drain (_funnel_drained, VERDICT r05 #4): one ingest
serves both funnel entries. These tests pin the memo contract — same
session + same fixture generation reuse the drain; a regenerated fixture
(different content identity) re-drains — and that both entries read
consistent views of the same pipeline."""

import os

import pytest

from spark_states_spark import lifetime
from spark_states_spark.catalog import SHARED_MEMOS
from spark_states_spark.streaming import queries as sq


@pytest.fixture(autouse=True)
def _clear_memo(spark):
    lifetime.release(spark, "funnel")
    yield
    lifetime.release(spark, "funnel")


def _memo(spark, tag="funnel"):
    return lifetime.owned(spark, tag).memo


def _count_drains(monkeypatch) -> list:
    """Record every streaming drain the TTL entries start."""
    from spark_states_spark.streaming import runner

    started = []
    for mod, name in [
        (sq, "run_stream_to_table"),
        (runner, "run_stream_drain_wallclock"),
    ]:
        real = getattr(mod, name)

        def wrapped(*a, _real=real, **kw):
            started.append(_real.__name__)
            return _real(*a, **kw)

        monkeypatch.setattr(mod, name, wrapped)
    return started


def test_drain_memoized_within_session(spark, sf_dir_small):
    sink1, ckpt1 = sq._funnel_drained(spark, sf_dir_small)
    sink2, ckpt2 = sq._funnel_drained(spark, sf_dir_small)
    assert ckpt1 == ckpt2
    assert sink1 is sink2
    assert len(_memo(spark)) == 1


def test_memo_key_carries_fixture_content_identity(spark, sf_dir_small):
    """The driver regenerates testdata in place between rounds; a stale
    memo would serve the previous generation's drain. The key must change
    when the source content identity changes."""
    sq._funnel_drained(spark, sf_dir_small)
    (key,) = _memo(spark)
    from spark_states_spark.sources.tables import _source_identity, table_path

    assert key[1] == _source_identity(table_path(sf_dir_small, "events"))


def test_bench_memo_clear_scoped_to_participating_entries(spark):
    """Harness best-of-N re-runs must clear a shared-drain memo
    only for entries that READ it — an intervening entry's re-runs wiping
    the funnel memo made the pair's series order-dependent (the second
    reader re-paid a full drain instead of the documented checkpoint
    read)."""
    import harness

    lifetime.shared(spark, "funnel", "sentinel", lambda: ("sink", "ckpt"))
    harness.clear_entry_memos("q1_pricing_summary")  # non-participant
    assert _memo(spark), "non-participant re-run wiped the memo"
    harness.clear_entry_memos("funnel_state_scan")  # participant
    assert not _memo(spark)


def test_registry_lists_both_funnel_entries():
    assert {"streaming_funnel_stages", "funnel_state_scan"} <= SHARED_MEMOS[
        "funnel"
    ]


def test_memo_cleanup_unpins_sink_blocks(spark, sf_dir_small):
    """ADVICE r07: clearing a drain memo must also unpersist the drain's
    sink blocks and remove its checkpoint dir, both owned by the "funnel"
    lifetime tag."""
    from spark_states_spark.catalog import clear_shared_memos

    _sink, ckpt = sq._funnel_drained(spark, sf_dir_small)
    blocks = set(lifetime.owned(spark, "funnel").rdd_ids)
    assert blocks and blocks <= lifetime.pinned_rdd_ids(spark)
    assert ckpt in lifetime.owned(spark, "funnel").dirs
    clear_shared_memos("funnel_state_scan")
    assert not _memo(spark)
    assert not blocks & lifetime.pinned_rdd_ids(spark)
    assert not os.path.exists(ckpt)


def test_wallclock_entries_share_one_drain(spark, sf_dir_small, monkeypatch):
    """VERDICT r06 #7: the two wall-clock TTL entries run on ONE dual-
    binding drain; each binding's production fold is unchanged, so with
    ttl >> drain wall time both bindings' per-key outcomes equal the
    infinite fold — and each other."""
    lifetime.release(spark, "wallclock_kv")
    try:
        started = _count_drains(monkeypatch)
        fin = sq.keyed_state_wallclock_finite_bounds(
            spark, sf_dir_small
        ).collect()
        sq.keyed_state_wallclock_infinite(spark, sf_dir_small).collect()
        assert started == ["run_stream_drain_wallclock"], started
        assert len(_memo(spark, "wallclock_kv")) == 1, (
            "entries must share a drain"
        )
        assert fin[0]["n_violation_keys"] == 0
        # collected compare (exceptAll on two filters of the same sink
        # frame can trip a Spark self-reference analyzer conflict)
        drained = sq._wallclock_kv_drained(spark, sf_dir_small)
        a = sorted(map(tuple, sq._binding_outcomes(drained, "inf").collect()))
        b = sorted(map(tuple, sq._binding_outcomes(drained, "fin").collect()))
        assert a == b and a, "bindings must agree (ttl >> drain wall time)"
        assert SHARED_MEMOS["wallclock_kv"] == {
            "keyed_state_wallclock_infinite",
            "keyed_state_wallclock_finite_bounds",
        }
    finally:
        lifetime.release(spark, "wallclock_kv")


def test_virtual_drain_bindings_equal_solo_drains(
    spark, sf_dir_small, monkeypatch
):
    """VERDICT r07 #4: the five virtual-clock TTL entries run on ONE shared
    drain, which must reproduce each strict, infinite and stateless
    binding's SOLO single-batch drain exactly — despite the chunked replay
    (the documented invariance argument) — and the lazy binding's whole
    bounds row. Solo references run the same ttl_kv_ops stage with one
    binding through _run_ttl_summary."""
    from spark_states_spark.streaming.ttl import ttl_kv_ops

    entries = sorted(SHARED_MEMOS["virtual_kv"])
    assert entries == [
        "keyed_state_ttl_infinite",
        "keyed_state_ttl_lazy_bounds",
        "keyed_state_ttl_per_query",
        "keyed_state_ttl_stateless",
        "keyed_state_ttl_strict",
    ]
    lifetime.release(spark, "virtual_kv")
    try:
        started = _count_drains(monkeypatch)
        rows = {
            name: getattr(sq, name)(spark, sf_dir_small).collect()
            for name in entries
        }
        assert started == ["run_stream_to_table"], started
        assert len(_memo(spark, "virtual_kv")) == 1, (
            "bindings must share a drain"
        )
        # The lazy binding's bounds sandwich must hold on the shared drain.
        assert rows["keyed_state_ttl_lazy_bounds"][0]["n_violation_keys"] == 0
        confs = sq._virtual_ttl_confs()
        for binding in ["inf", "strict", "stateless", *sq._PER_QUERY_TTLS]:
            shared = sorted(
                map(
                    tuple,
                    sq._virtual_summary(spark, sf_dir_small, binding).collect(),
                )
            )
            conf, query = confs[binding]
            solo = sorted(
                map(
                    tuple,
                    sq._run_ttl_summary(
                        spark, sf_dir_small, conf, query, ttl_kv_ops
                    ).collect(),
                )
            )
            assert shared == solo and solo, binding
    finally:
        lifetime.release(spark, "virtual_kv")


def test_both_entries_describe_one_pipeline(spark, sf_dir_small):
    """stage counts derived from the sink must agree with the state scan's
    records: n_users at stage s == number of state rows with slot s set."""
    stages = {
        r["stage"]: r["n_users"]
        for r in sq.streaming_funnel_stages(spark, sf_dir_small).collect()
    }
    st = sq.funnel_state_scan(spark, sf_dir_small).collect()
    assert len(_memo(spark)) == 1, "entries must share one drain"
    assert stages[1] == sum(1 for r in st if r["k1"] is not None)
    assert stages[2] == sum(1 for r in st if r["k2"] is not None)
    assert stages[3] == sum(1 for r in st if r["k3"] is not None)
