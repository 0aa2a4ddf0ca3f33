"""State-store metrics façade.

Parity with the reference's ``StateStore.metrics`` surface
(``Provider.scala:282-283``: ``numKeys`` + an estimated memory figure of
``keys × (key defaultSize + value defaultSize)``), re-expressed over what
modern Spark actually reports: ``StreamingQuery.lastProgress
["stateOperators"]`` carries real per-operator state metrics from the
RocksDB provider.

Note (r14, re-scoped r15 per ADVICE r14): the ENGINE's own entry paths
(__spark_entry__, and harness.engine_session for bench.py, scalecheck.py
and scaleprobe.py) disable RocksDB
row-count tracking for commit speed — with it off, ``numRowsTotal`` reads
-1. Library sessions built via ``session.build_session`` keep Spark's
default (tracking ON), so this façade reports real counters there; a
consumer inside the engine paths opts back in with
``spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows=true``
(runtime-settable; read at query start).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


@dataclass(frozen=True)
class StateOperatorMetrics:
    """One stateful operator's state-store metrics for a progress update."""

    operator_name: str
    num_rows_total: int
    num_rows_updated: int
    memory_used_bytes: int
    custom: dict = field(default_factory=dict)


def state_metrics(query: StreamingQuery) -> list[StateOperatorMetrics]:
    """Extract state metrics from the query's last progress (empty if the
    query has made no progress yet or is stateless)."""
    progress = query.lastProgress
    if not progress:
        return []
    out = []
    for op in progress.get("stateOperators", []):
        out.append(
            StateOperatorMetrics(
                operator_name=op.get("operatorName", ""),
                num_rows_total=int(op.get("numRowsTotal", 0)),
                num_rows_updated=int(op.get("numRowsUpdated", 0)),
                memory_used_bytes=int(op.get("memoryUsedBytes", 0)),
                custom=dict(op.get("customMetrics", {})),
            )
        )
    return out


# Spark's DataType.defaultSize values (JVM-side; PySpark doesn't expose
# them) for the types a state schema is likely to hold.
_DEFAULT_SIZES: dict[type, int] = {
    T.BooleanType: 1,
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.FloatType: 4,
    T.DateType: 4,
    T.LongType: 8,
    T.DoubleType: 8,
    T.TimestampType: 8,
    T.StringType: 20,
    T.BinaryType: 100,
}


def _default_size(dt: T.DataType) -> int:
    if isinstance(dt, T.StructType):
        return sum(_default_size(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _default_size(dt.elementType)
    if isinstance(dt, T.MapType):
        return _default_size(dt.keyType) + _default_size(dt.valueType)
    if isinstance(dt, T.DecimalType):
        return 8
    return _DEFAULT_SIZES.get(type(dt), 8)


def estimate_state_memory(
    key_schema: T.StructType, value_schema: T.StructType, num_keys: int
) -> int:
    """The reference's cheap estimator: keys × (key size + value size)
    using per-field default sizes (Provider.scala:282-283). Kept for parity
    and for capacity planning before a query runs; prefer
    ``state_metrics`` for live numbers."""
    return num_keys * (_default_size(key_schema) + _default_size(value_schema))
