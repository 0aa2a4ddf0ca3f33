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
    """ADVICE r06: bench best-of-N re-runs must clear a shared-drain memo
    only for entries that READ it — an intervening entry's re-runs wiping
    the funnel memo made the pair's series order-dependent (the second
    reader re-paid a full drain instead of the documented checkpoint
    read)."""
    import bench

    lifetime.shared(spark, "funnel", "sentinel", lambda: ("sink", "ckpt"))
    bench._clear_entry_memos("q1_pricing_summary")  # non-participant
    assert _memo(spark), "non-participant re-run wiped the memo"
    bench._clear_entry_memos("funnel_state_scan")  # participant
    assert not _memo(spark)


def test_registry_lists_both_funnel_entries():
    assert {"streaming_funnel_stages", "funnel_state_scan"} <= SHARED_MEMOS[
        "funnel"
    ]


def test_memo_cleanup_drops_sink_views(spark, sf_dir_small):
    """ADVICE r07: clearing a drain memo must also drop the memory-sink
    temp view so the driver-side buffer is collectable, and remove the
    drain's checkpoint dir — both owned by the "funnel" lifetime tag."""
    from spark_states_spark.catalog import clear_shared_memos

    _sink, ckpt = sq._funnel_drained(spark, sf_dir_small)
    (name,) = lifetime.owned(spark, "funnel").views
    assert any(t.name == name for t in spark.catalog.listTables())
    assert ckpt in lifetime.owned(spark, "funnel").dirs
    clear_shared_memos("funnel_state_scan")
    assert not _memo(spark)
    assert not any(t.name == name for t in spark.catalog.listTables())
    assert not os.path.exists(ckpt)


def test_wallclock_entries_share_one_drain(spark, sf_dir_small):
    """VERDICT r06 #7: the two wall-clock TTL entries run on ONE dual-
    binding drain; each binding's production kernel is unchanged, so with
    ttl >> drain wall time both bindings' per-key outcomes equal the
    infinite fold — and each other."""
    lifetime.release(spark, "wallclock_kv")
    try:
        fin = sq.keyed_state_wallclock_finite_bounds(
            spark, sf_dir_small
        ).collect()
        sq.keyed_state_wallclock_infinite(spark, sf_dir_small).collect()
        assert len(_memo(spark, "wallclock_kv")) == 1, (
            "entries must share a drain"
        )
        assert fin[0]["n_violation_keys"] == 0
        # collected compare (exceptAll on two filters of the same memory
        # sink view trips a Spark self-reference analyzer conflict)
        a = sorted(
            map(tuple, sq._wallclock_binding_outcomes(
                spark, sf_dir_small, "inf").collect())
        )
        b = sorted(
            map(tuple, sq._wallclock_binding_outcomes(
                spark, sf_dir_small, "fin").collect())
        )
        assert a == b and a, "bindings must agree (ttl >> drain wall time)"
        assert SHARED_MEMOS["wallclock_kv"] == {
            "keyed_state_wallclock_infinite",
            "keyed_state_wallclock_finite_bounds",
        }
    finally:
        lifetime.release(spark, "wallclock_kv")


def test_virtual_drain_bindings_equal_solo_drains(spark, sf_dir_small):
    """VERDICT r07 #4: the shared triple-binding virtual-clock drain must
    reproduce each binding's SOLO drain outcomes exactly — the strict
    kernels despite the chunked replay (the documented invariance argument)
    and the lazy kernel's whole bounds row. Solo references run the same
    production kernels through the pre-share _run_ttl_summary path."""
    lifetime.release(spark, "virtual_kv")
    try:
        # Shared-drain outcomes, per strict binding.
        shared = {
            name: sorted(
                map(
                    tuple,
                    sq._get_outcome_summary(
                        sq._virtual_binding_outcomes(spark, sf_dir_small, name)
                    ).collect(),
                )
            )
            for name in sq._PER_QUERY_TTLS
        }
        assert len(_memo(spark, "virtual_kv")) == 1, (
            "bindings must share a drain"
        )
        # Solo single-batch drains with the same resolved TTLs.
        for name, ttl_s in sq._PER_QUERY_TTLS.items():
            conf = {
                "spark.sql.streaming.stateStore.strictExpire": "true",
                f"spark.sql.streaming.stateStore.stateExpirySecs.{name}": str(ttl_s),
            }
            solo = sorted(
                map(tuple, sq._run_ttl_summary(spark, sf_dir_small, conf, name).collect())
            )
            assert shared[name] == solo and solo, name
        # The lazy binding's bounds sandwich must hold on the shared drain.
        row = sq.keyed_state_ttl_lazy_bounds(spark, sf_dir_small).collect()[0]
        assert row["n_violation_keys"] == 0
        assert SHARED_MEMOS["virtual_kv"] == {
            "keyed_state_ttl_per_query",
            "keyed_state_ttl_lazy_bounds",
        }
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
