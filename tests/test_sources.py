"""Source/sink round-trips: every batch format preserves the data."""

import pytest

from spark_states_spark.sources import load_table
from spark_states_spark.sources.formats import BATCH_FORMATS, read_table, write_table


@pytest.mark.parametrize("fmt", BATCH_FORMATS)
def test_roundtrip_preserves_rows(spark, sf_dir, fmt, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / f"orders_{fmt}")
    write_table(src, path, fmt)
    back = read_table(spark, path, fmt, schema=src.schema)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_text_formats_require_schema(spark, tmp_path, fmt):
    with pytest.raises(ValueError, match="schema"):
        read_table(spark, str(tmp_path), fmt)


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported"):
        read_table(spark, str(tmp_path), "avro")


def test_compaction_reduces_file_count_without_shuffle(spark, sf_dir):
    """Compaction must actually merge files toward the size target, and its
    plan must be scan+write only (coalesce, no Exchange)."""
    import os

    from spark_states_spark.sources.compaction import (
        _TARGET_FILE_BYTES,
        _stage,
        compact,
        ensure_fragmented_events,
    )

    frag = ensure_fragmented_events(spark, sf_dir)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_frag == 64

    compacted = compact(spark, frag, _stage(sf_dir, "compacted"))
    files = [f for f in os.listdir(compacted) if f.endswith(".parquet")]
    assert len(files) < n_frag / 4, f"barely compacted: {len(files)} files"
    total = sum(os.path.getsize(os.path.join(compacted, f)) for f in files)
    # each output file is within 2x of target on average (parquet encoding
    # changes sizes, so the bound is loose but catches a broken coalesce)
    assert total / len(files) <= 2 * _TARGET_FILE_BYTES

    # plan shape: narrowing only — no shuffle in the compaction read+write
    df = spark.read.parquet(frag).coalesce(2)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_chunked_stream_arrival_order_permutes_delivery(spark, sf_dir_small):
    """arrival_order permutes chunk DELIVERY (file mtimes) while chunk
    contents stay time-contiguous: with (0, 2, 1) the newest third's max
    event time is seen by the file source before the middle third's."""
    import os

    import pyarrow.parquet as pq

    from spark_states_spark.sources import chunked_stream
    from spark_states_spark.sources.tables import staged_chunks

    chunked_stream(
        spark, sf_dir_small, "events", n_chunks=3, arrival_order=(0, 2, 1)
    )
    # staged_chunks is cached by (source identity, chunking args): calling
    # it with chunked_stream's arguments returns the SAME directory the
    # stream above reads — deterministic, no plan-string scraping (which
    # broke on any Spark plan-rendering change).
    chunk_dir = staged_chunks(
        sf_dir_small, "events", n_chunks=3, arrival_order=(0, 2, 1)
    )
    parts = sorted(
        f for f in os.listdir(chunk_dir) if f.endswith(".parquet")
    )
    assert len(parts) == 3
    mtimes = {f: os.path.getmtime(os.path.join(chunk_dir, f)) for f in parts}
    # Contents: part i = i-th time range (sorted staging unchanged) ...
    maxes = [
        pq.read_table(os.path.join(chunk_dir, f))["ts"].to_pylist()[-1]
        for f in parts
    ]
    assert maxes[0] < maxes[1] < maxes[2]
    # ... delivery: chunk 0 first, chunk 2 second, chunk 1 last.
    assert mtimes[parts[0]] < mtimes[parts[2]] < mtimes[parts[1]]


def test_chunked_stream_rejects_bad_arrival_order(spark, sf_dir_small):
    import pytest as _pytest

    from spark_states_spark.sources import chunked_stream

    with _pytest.raises(ValueError, match="not a permutation"):
        chunked_stream(
            spark, sf_dir_small, "events", n_chunks=3, arrival_order=(0, 1)
        )


def test_parquet_row_count_matches_footer_metadata(tmp_path):
    """parquet_row_count (ADVICE r09) must agree with the actual row count
    for both a single file and a directory of part files, without a Spark
    job (it reads footers only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_states_spark.sources.tables import parquet_row_count

    single = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": list(range(37))}), single)
    assert parquet_row_count(single) == 37

    d = tmp_path / "parts.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"a": [3, 4, 5]}), str(d / "part-1.parquet"))
    (d / "_SUCCESS").write_text("")  # non-parquet members are skipped
    assert parquet_row_count(str(d)) == 5


def test_parquet_metadata_handles_nested_layouts(tmp_path):
    """ADVICE r14: a hive-partitioned / nested directory layout must count
    its files (the flat listdir silently reported 0 rows, no-opping the
    fan-out and corrupting caller metadata), and a directory with NO
    parquet files must fail loudly instead of reporting 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from spark_states_spark.sources.tables import (
        parquet_row_count,
        parquet_split_count,
    )

    d = tmp_path / "hive.parquet"
    (d / "lang=en").mkdir(parents=True)
    (d / "lang=fr").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "lang=en" / "p0.parquet"))
    pq.write_table(pa.table({"a": [3, 4, 5]}), str(d / "lang=fr" / "p0.parquet"))
    assert parquet_row_count(str(d)) == 5
    assert parquet_split_count(str(d)) == 2
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        parquet_row_count(str(empty))


def test_staged_chunks_purge_by_source(tmp_path):
    """purge_staged_chunks removes exactly the cache entries staged from
    a given (deleted) source tree — the scale-probe teardown contract —
    and leaves entries from other sources and marker-less legacy entries
    untouched."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_states_spark.sources.tables import (
        purge_staged_chunks,
        staged_chunks,
    )

    def mk_fixture(name):
        d = tmp_path / name
        d.mkdir()
        t = pa.table(
            {
                "event_id": pa.array([1, 2, 3, 4], pa.int64()),
                "ts": pa.array(
                    [1704067200_000000 + i for i in range(4)],
                    pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(t, str(d / "events.parquet"))
        return str(d)

    a, b = mk_fixture("replica_a"), mk_fixture("other_b")
    da = staged_chunks(a, n_chunks=2, order_cols=("ts", "event_id"))
    db = staged_chunks(b, n_chunks=2, order_cols=("ts", "event_id"))
    assert os.path.isdir(da) and os.path.isdir(db)
    assert open(os.path.join(da, "_source_path.txt")).read().startswith(a)
    n = purge_staged_chunks(a)
    assert n == 1
    assert not os.path.isdir(da)   # the replica's entry is gone
    assert os.path.isdir(db)       # the other source's entry survives
    assert purge_staged_chunks(a) == 0  # idempotent
    # clean up b's entry too: its tmp_path source dies with the test, so
    # leaving it would leak exactly the dead-cache class under test
    assert purge_staged_chunks(b) == 1
