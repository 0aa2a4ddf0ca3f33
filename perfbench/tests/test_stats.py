"""The benchmark's reductions: percentile rule, progress records → layer
metrics, and the executed-plan census."""

import pytest

import stats


def test_percentile_needs_ten_samples_beyond():
    assert not stats.supported(19, 0.5)
    assert stats.supported(20, 0.5)
    assert not stats.supported(99, 0.9)
    assert stats.supported(100, 0.9)
    assert not stats.supported(0, 0.5)
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 0.9)


def test_percentile_is_nearest_rank():
    assert stats.percentile(list(range(1, 21)), 0.5) == 10
    assert stats.percentile(list(range(100, 0, -1)), 0.9) == 90
    assert stats.percentile([5.0] * 20 + [1.0], 0.5) == 5.0


def _progress(batch, rows, trigger, ops):
    return {
        "batchId": batch,
        "numInputRows": rows,
        "durationMs": {
            "triggerExecution": trigger,
            "queryPlanning": 2,
            "addBatch": trigger - 10,
            "walCommit": 3,
            "commitOffsets": 4,
            "latestOffset": 1,
            "getBatch": 0,
        },
        "stateOperators": ops,
    }


def _op(total, removed, commit, puts, load=None):
    custom = {"rocksdbPutCount": puts, "rocksdbGetCount": 2 * puts}
    if load is not None:
        custom["rocksdbLoadLatencyMs"] = load
    return {
        "numRowsTotal": total,
        "numRowsRemoved": removed,
        "commitTimeMs": commit,
        "numStateStoreInstances": 4,
        "memoryUsedBytes": 1000,
        "customMetrics": custom,
    }


def test_reduce_drain_maps_progress_to_named_metrics():
    progress = [
        _progress(0, 100, 50, [_op(10, 0, 7, 10, load=3)]),
        _progress(1, 100, 30, [_op(15, 2, 5, 6), _op(1, 0, 1, 1)]),
        _progress(2, 0, 20, [_op(12, 3, 4, 0)]),  # trailing no-data batch
    ]
    m = stats.reduce_drain(progress, drain_s=0.25)
    assert m["batch_ms"] == [50.0, 30.0]
    assert m["runner.batches"] == 3.0
    assert m["runner.between_batches_ms"] == pytest.approx(250.0 - 100.0)
    assert m["runner.add_batch_ms"] == [40.0, 20.0]
    assert m["runner.commit_offsets_ms"] == [4.0, 4.0]
    # Per-batch latencies are summed over a batch's state operators.
    assert m["state.commit_ms"] == [7.0, 6.0]
    assert m["state.load_ms"] == [3.0, 0.0]
    # Totals cover every batch, the no-data one included.
    assert m["state.put_count"] == 17.0
    assert m["state.get_count"] == 34.0
    assert m["state.rows_removed"] == 5.0
    # End state comes from the last record.
    assert m["state.rows_total"] == 12.0
    assert m["state.instances"] == 4.0


def test_combine_drains_pools_batches_and_takes_median_of_drains():
    a = {"batch_ms": [1.0], "state.commit_ms": [1.0, 2.0], "runner.batches": 3.0}
    b = {"batch_ms": [1.0], "state.commit_ms": [10.0], "runner.batches": 5.0}
    c = {"batch_ms": [1.0], "state.commit_ms": [11.0, 12.0], "runner.batches": 4.0}
    m = stats.combine_drains([a, b, c])
    assert "batch_ms" not in m
    assert m["state.commit_ms"] == 10.0
    assert m["runner.batches"] == 4.0
    assert stats.combine_drains([]) == {}


def test_plan_counts_match_whole_node_names():
    tree = """AdaptiveSparkPlan isFinalPlan=false
+- Window [row_number() windowspecdefinition(o_custkey)]
   +- *(2) Sort [o_custkey ASC NULLS FIRST], false, 0
      +- Exchange hashpartitioning(o_custkey, 4), ENSURE_REQUIREMENTS, [plan_id=1]
         +- SortMergeJoin [a], [b], Inner
            :- *(1) Sort [a ASC NULLS FIRST], false, 0
            :  +- FileScan parquet [a] Batched: true
            +- Scan ExistingRDD[b]
"""
    assert stats.plan_counts(tree) == {
        "plan.scan_parquet": 1,
        "plan.exchange": 1,
        "plan.sort": 2,
        "plan.window": 1,
        "plan.existing_rdd": 1,
    }
