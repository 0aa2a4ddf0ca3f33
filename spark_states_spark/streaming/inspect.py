"""Catalog entries for offline state inspection (state_reader.py).

The state a streaming aggregation has committed IS the aggregate — so a
scan of the checkpoint's state equals the batch GROUP BY over the drained
input, giving the state-reader surface a real DuckDB oracle: the driver
verifies that what the store holds (key structs, agg buffers, per-shard
layout) round-trips exactly.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..session import shuffle_partitions
from ..sources import read_stream
from .runner import STATE_PARTS, auto_checkpoint_dir, run_stream_to_table
from .state_reader import read_state, state_metadata


def _run_user_agg(spark: SparkSession, sf_dir: str) -> str:
    """Drain a streaming per-user aggregation over ``events`` into a fresh
    checkpoint and return its location. Exactly STATE_PARTS state
    partitions, a pin rather than the runner's ``parts=`` rule:
    ``state_metadata_inventory``'s oracle reads the same constant, and the
    rule's core cap would make it vary with the machine."""
    with shuffle_partitions(spark, STATE_PARTS):
        agg = (
            read_stream(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )
        ckpt = auto_checkpoint_dir("statescan")
        run_stream_to_table(agg, output_mode="complete", checkpoint_location=ckpt)
    return ckpt


@register(
    "state_store_scan",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def state_store_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``StateStore.iterator`` parity (Provider.scala:244-277): run a
    streaming per-user aggregation, then read the committed state back
    from the checkpoint via the state data source — without re-running
    the query. The latest version (``latestIterator``,
    Provider.scala:655-660) must equal the batch aggregate.

    The ``value`` struct carries Spark's internal agg-buffer field names
    (count/min/max), not the query aliases — renamed positionally here.
    """
    ckpt = _run_user_agg(spark, sf_dir)
    st = read_state(spark, ckpt)
    return st.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.col("value.min").alias("min_value"),
        F.col("value.max").alias("max_value"),
    )


@register(
    "state_metadata_inventory",
    oracle=f"""
    SELECT CAST(0 AS BIGINT) AS operator_id,
           'stateStoreSave' AS operator_name,
           'default' AS store_name,
           CAST({STATE_PARTS} AS INT) AS num_partitions
    """,
)
def state_metadata_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator inventory of a checkpoint (``state-metadata`` source) —
    the queryable face of ``StateStoreId(checkpointLocation, operatorId,
    partitionId)`` (Provider.scala:53-54,132): one row per stateful
    operator with its store name and shard count."""
    ckpt = _run_user_agg(spark, sf_dir)
    md = state_metadata(spark, ckpt)
    return md.select(
        F.col("operatorId").cast("long").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("store_name"),
        F.col("numPartitions").cast("int").alias("num_partitions"),
    )
