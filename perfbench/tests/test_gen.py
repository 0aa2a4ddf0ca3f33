"""Seed determinism of the generator, the properties the workloads rely on,
and the expected results the benchmark checks outputs against."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import reference
import run

SMALL_KV = gen.KvSpec(files=4, ops_per_file=300, n_keys=40)


def test_same_seed_same_inputs():
    assert gen.kv_tables(7, SMALL_KV) == gen.kv_tables(7, SMALL_KV)
    assert gen.kv_tables(7, SMALL_KV) != gen.kv_tables(8, SMALL_KV)


def test_catalog_input_is_fixed():
    a, b = gen.catalog_tables(), gen.catalog_tables()
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a)
    read = {t for tables in run.CATALOG_ENTRIES.values() for t in tables}
    assert read <= set(a)


def test_kv_ops_are_time_ordered_with_the_configured_mix():
    tables = gen.kv_tables(3, SMALL_KV)
    ops = pa.concat_tables(tables)
    ts = ops.column("ts_s").to_pylist()
    assert ts == sorted(ts)
    assert ops.column("seq").to_pylist() == list(range(ops.num_rows))
    counts = {op: ops.column("op").to_pylist().count(op) for op in ("put", "get", "remove")}
    assert counts["remove"] < counts["put"] < counts["get"]


def test_files_replay_in_order(tmp_path):
    paths = gen.write_batches(gen.kv_tables(3, SMALL_KV), str(tmp_path))
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    assert pq.read_table(paths[0]).num_rows == SMALL_KV.ops_per_file


def test_strict_ttl_replay_ignores_batch_cuts():
    """The package's TTL kernel, fed the op stream in any cut into
    batches, matches the reference's whole-stream per-key replay."""
    from spark_states_spark.config import TtlConfig
    from spark_states_spark.streaming.ttl import replay_virtual

    tables = gen.kv_tables(5, SMALL_KV)
    cfg = TtlConfig("q", SMALL_KV.ttl_s, True)
    expected = reference.kv_expected(tables, SMALL_KV.ttl_s)
    ops = pa.concat_tables(tables)
    for cut in (ops.num_rows, SMALL_KV.ops_per_file, 97):
        state, got = {}, []
        for start in range(0, ops.num_rows, cut):
            batch = ops.slice(start, cut).to_pandas()
            for key, rows in batch.groupby("key"):
                value, last = state.get(key, (None, None))
                out, survived = replay_virtual(rows, cfg, value, last, key in state)
                got.extend(out)
                state.pop(key, None)
                if survived is not None:
                    state[key] = survived
        assert reference.sorted_rows(got) == expected


def test_benchmark_json_names_the_metrics_run_prints():
    """Names, units and directions in BENCHMARK.json match run.py."""
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)

    def listed(kind: str) -> dict:
        return {m["name"]: (m["unit"], m["better"]) for m in spec[kind]}

    assert listed("end_to_end") == run.END_TO_END
    assert listed("per_layer") == run.PER_LAYER
