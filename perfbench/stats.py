"""Pure reductions used by the benchmark: the percentile rule, streaming
progress records → named layer metrics, and executed-plan operator counts.

Nothing here touches Spark, so the benchmark's tests pin it directly.
"""

from __future__ import annotations

import math
import re
import statistics

# A percentile is reported only when at least this many samples lie beyond
# it, so p50 needs 20 samples and p90 needs 100.
MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - math.ceil(q * n)


def supported(n: int, q: float) -> bool:
    return n > 0 and samples_beyond(n, q) >= MIN_BEYOND


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q`` percentile; raises when the sample count does not
    support it (fewer than ``MIN_BEYOND`` samples beyond)."""
    n = len(samples)
    if not supported(n, q):
        raise ValueError(f"{n} samples cannot support p{q * 100:g}")
    return sorted(samples)[math.ceil(q * n) - 1]


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


# --- streaming progress → layer metrics -----------------------------------

# durationMs phase → metric name (per data batch, ms).
PHASES = {
    "queryPlanning": "runner.query_planning_ms",
    "addBatch": "runner.add_batch_ms",
    "walCommit": "runner.wal_commit_ms",
    "commitOffsets": "runner.commit_offsets_ms",
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
}

# Per-batch state-store latencies (ms, summed over a batch's state
# operators; RocksDB custom metrics are already summed over partitions).
STATE_LATENCIES = {
    "commitTimeMs": "state.commit_ms",
    "rocksdbLoadLatencyMs": "state.load_ms",
    "rocksdbCommitFileSyncLatencyMs": "state.file_sync_ms",
    "rocksdbChangeLogWriterCommitLatencyMs": "state.changelog_commit_ms",
}

# Per-drain totals (summed over batches and operators).
STATE_TOTALS = {
    "rocksdbPutCount": "state.put_count",
    "rocksdbGetCount": "state.get_count",
    "rocksdbTotalBytesWritten": "state.bytes_written",
    "numRowsRemoved": "state.rows_removed",
}

# Read from the drain's last progress record (the committed end state).
STATE_FINAL = {
    "numRowsTotal": "state.rows_total",
    "numStateStoreInstances": "state.instances",
    "memoryUsedBytes": "state.memory_bytes",
}


def _op_value(op: dict, key: str) -> float:
    if key in op:
        return float(op[key])
    return float(op.get("customMetrics", {}).get(key, 0))


def _state_sum(p: dict, key: str) -> float:
    return sum(_op_value(op, key) for op in p.get("stateOperators", []))


def reduce_drain(progress: list[dict], drain_s: float) -> dict:
    """One drain's progress records → its layer samples.

    Returns ``batch_ms`` (triggerExecution of every data batch), per-batch
    sample lists for each phase and state latency, and scalar per-drain
    values: batch count, the wall between batches and the state totals.
    """
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict = {
        "batch_ms": [float(p["durationMs"]["triggerExecution"]) for p in data],
        "runner.batches": float(len(progress)),
        "runner.between_batches_ms": drain_s * 1000.0
        - sum(float(p["durationMs"].get("triggerExecution", 0)) for p in progress),
    }
    for key, name in PHASES.items():
        out[name] = [float(p["durationMs"].get(key, 0)) for p in data]
    for key, name in STATE_LATENCIES.items():
        out[name] = [_state_sum(p, key) for p in data]
    for key, name in STATE_TOTALS.items():
        out[name] = sum(_state_sum(p, key) for p in progress)
    last = progress[-1] if progress else {}
    for key, name in STATE_FINAL.items():
        out[name] = _state_sum(last, key)
    return out


def combine_drains(drains: list[dict]) -> dict[str, float]:
    """Layer metrics over several drains of the same input: per-batch
    samples are pooled and reduced to their median; per-drain values are
    reduced to the median over drains."""
    metrics: dict[str, float] = {}
    if not drains:
        return metrics
    for name in drains[0]:
        if name == "batch_ms":
            continue
        first = drains[0][name]
        if isinstance(first, list):
            metrics[name] = median([v for d in drains for v in d[name]])
        else:
            metrics[name] = median([d[name] for d in drains])
    return metrics


# --- executed-plan operator census -----------------------------------------

# Physical operator node names, matched as whole node names at the start of
# a tree-string line (after the tree drawing and any codegen stage prefix),
# so "Sort" does not count SortMergeJoin or SortAggregate.
PLAN_NODES = {
    "plan.scan_parquet": r"(?:FileScan|Scan) parquet\b",
    "plan.exchange": r"Exchange\b",
    "plan.sort": r"Sort\b",
    "plan.window": r"Window\b",
    "plan.existing_rdd": r"(?:Scan )?ExistingRDD\b",
}
_NODE_PREFIX = r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?"


def plan_counts(tree: str) -> dict[str, int]:
    """Count physical operators in an executed plan's tree string."""
    return {
        name: len(re.findall(_NODE_PREFIX + pat, tree, flags=re.MULTILINE))
        for name, pat in PLAN_NODES.items()
    }
