"""The repository benchmark.

    python3 perfbench/run.py --workload kv_ttl --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives the package's public
functions on ``local[<cores>]``:

- ``kv_ttl``: a seeded put/get/remove op stream through
  ``streaming.ttl.ttl_kv_ops`` with a strict positive TTL, one file per
  micro-batch through ``streaming.runner.run_stream_to_table``.
- ``batch_catalog``: four ``catalog.QUERIES`` entries written to the
  ``noop`` sink over generated tables of the sf0.1 fixture's size (fixed
  seed 42).

A pass is one drain of the whole stream (streaming workloads; closed loop
under ``availableNow``) or one run of the entry list (``batch_catalog``).
After an unreported warm pass, passes repeat until ``--seconds`` have gone
by and at least ``MIN_PASSES`` ran. Every output is checked against an
expected result computed independently (``reference.py``, DuckDB for the
catalog oracles); ``attempted``/``failed`` count passes and entries.

``--trace 0`` prints the end-to-end metrics: ``setup_s``, process start to
session ready, and ``cpu_s``, the median CPU time of a pass over this
process and its descendants.
``--trace 1`` alternates plain and traced passes and prints the per-layer
metrics, read from Spark's own progress and plan records and from timers
around the calls into each module, with the pass wall times and the
tracing overhead (``trace.overhead_s``: median traced minus median plain
pass). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.

Everything the run writes goes under ``.bench_work/`` in the current
directory, which is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections.abc import Callable  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import gen  # noqa: E402
import reference  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spark_states_spark"
NPROC = len(os.sched_getaffinity(0))

WORKLOADS = ("kv_ttl", "batch_catalog")

# batch_catalog entries and the generated tables each one reads.
CATALOG_ENTRIES = {
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "window_topk_per_group": ("orders",),
    "dedup_prefix_filter_jaccard": ("documents",),
    "sketch_kmv_jaccard": ("events",),
}

MIN_PASSES = 3
WARM_FILES = 2  # input files the unreported warm-up drain reads
TTL_QUERY = "bench_kv"

# Metric name → (unit, which direction is better).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
}

_STATE_UNITS = {
    "state.commit_ms": "ms",
    "state.load_ms": "ms",
    "state.file_sync_ms": "ms",
    "state.changelog_commit_ms": "ms",
    "state.put_count": "count",
    "state.get_count": "count",
    "state.bytes_written": "bytes",
    "state.rows_total": "count",
    "state.rows_removed": "count",
    "state.instances": "count",
    "state.memory_bytes": "bytes",
}
_LAYER_UNITS = {
    "session.import_s": "s",
    "session.build_s": "s",
    "session.warmup_s": "s",
    **_STATE_UNITS,
    "runner.drain_s": "s",
    "runner.batches": "count",
    "runner.batch_ms_p50": "ms",
    **{name: "ms" for name in stats.PHASES.values()},
    "runner.between_batches_ms": "ms",
    "ttl.kernel_calls": "count",
    "ttl.replay_us_p50": "us",
    "state_reader.scan_s": "s",
    "state_reader.keys": "count",
    **{
        f"{entry}.{m}": unit
        for entry in CATALOG_ENTRIES
        for m, unit in (("build_s", "s"), ("exec_s", "s"), ("catalyst_ms", "ms"))
    },
    **{name: "count" for name in stats.PLAN_NODES},
    "run.pass_s": "s",
    "run.events_per_s": "1/s",
    "jvm.jit_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
PER_LAYER = {
    name: (unit, "higher" if name == "run.events_per_s" else "lower")
    for name, unit in _LAYER_UNITS.items()
}


def spark_conf(work: str) -> dict[str, str]:
    """Every Spark conf the benchmark sets on top of ``build_session``."""
    return {
        # One state-store partition per core.
        "spark.sql.shuffle.partitions": str(NPROC),
        # Keep every batch's progress record (the default ring holds 100).
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # JVM scratch (RocksDB's native library among it) inside the run
        # dir; JIT compiler threads that live as long as the JVM, so their
        # CPU time can be read per thread and left out of cpu_s.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def set_environment(work: str) -> dict[str, str]:
    """Environment read by the package and by Spark; set before import.
    Spark's and the package's scratch go inside the run dir (by default
    they go to /dev/shm), so the run writes only under its checkout."""
    env = {
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_EPHEMERAL_DIR": os.path.join(work, "ephemeral"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    for key in ("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_EPHEMERAL_DIR", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


@dataclass
class Stream:
    """One streaming workload: its input files and how to check a drain."""

    tag: str
    src_dir: str
    query: Callable
    check: Callable[[list], bool]
    files: int
    rows: int


@dataclass
class Pass:
    wall_s: float
    cpu_s: float  # without the JIT compiler's
    jit_s: float
    batch_ms: list[float]  # triggerExecution of each data micro-batch
    layer: dict


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.conf = spark_conf(work)
        self.spark = None
        self.jvm_pid = 0
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.warm_pass_s = 0.0  # timed, not reported: JIT and first-use costs

    # --- session ---------------------------------------------------------

    def setup(self) -> float:
        """Process start to session ready: package import, ``build_session``
        (which launches the JVM) and a warm-up job. Returns setup_s."""
        from spark_states_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        self.spark.range(200_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        t2 = time.perf_counter()
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.layer.update(
            {
                "session.import_s": t0 - T_START,
                "session.build_s": t1 - t0,
                "session.warmup_s": t2 - t1,
            }
        )
        return t2 - T_START

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and every
        process it started (the Python workers) have ended."""
        from pyspark import SparkContext

        started = set(_process_tree()) - {os.getpid()}
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_ended(started, timeout_s=30)

    def cpu(self) -> tuple[float, float]:
        """CPU seconds so far: this process tree without the JVM's JIT
        compiler threads, and those threads. JIT compilation is warm-up
        work whose share of a pass depends on timing."""
        jit = thread_cpu_s(self.jvm_pid, "CompilerThre")
        return tree_cpu_s() - jit, jit

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the JVM's /proc status")

    def stop_state_stores(self) -> None:
        self.spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    # --- units -----------------------------------------------------------

    def unit(self, fn: Callable, *a):
        """Run one counted unit; a raised error counts as a failure."""
        self.attempted += 1
        try:
            ok, value = fn(*a)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if not ok:
            self.failed += 1
        return value

    def timed_passes(self, run_pass: Callable):
        """Passes until ``--seconds`` have gone by and ``MIN_PASSES`` plain
        passes ran; with tracing on, plain and traced passes alternate and
        ``MIN_PASSES`` traced ones run too."""
        plain, traced = [], []
        t0 = time.perf_counter()
        while (
            time.perf_counter() - t0 < self.args.seconds
            or len(plain) < MIN_PASSES
            or (self.args.trace and len(traced) < MIN_PASSES)
        ):
            trace = bool(self.args.trace) and len(plain) > len(traced)
            p = self.unit(run_pass, f"p{len(plain) + len(traced)}", trace)
            if p is None:
                if self.failed > self.attempted // 2:
                    raise RuntimeError("more than half of the passes failed")
                continue
            (traced if trace else plain).append(p)
        return plain, traced

    # --- streaming workloads ----------------------------------------------

    def kv_streams(self) -> tuple[Stream, Stream]:
        """The warm-up stream over the first ``WARM_FILES`` input files and
        the timed stream over all of them, each with its own expected
        result."""
        from spark_states_spark.config import TtlConfig
        from spark_states_spark.streaming.ttl import ttl_kv_ops

        spec = gen.KvSpec()
        tables = gen.kv_tables(self.args.seed, spec)
        cfg = TtlConfig(TTL_QUERY, spec.ttl_s, True)
        if self.args.trace:
            self.layer.update(ttl_profile(tables, cfg))

        def stream(tag: str, part) -> Stream:
            src = os.path.join(self.work, tag)
            gen.write_batches(part, src)
            expected = reference.kv_expected(part, spec.ttl_s)
            return Stream(
                tag=tag,
                src_dir=src,
                query=lambda df: ttl_kv_ops(df, cfg),
                check=lambda rows: reference.sorted_rows(rows) == expected,
                files=len(part),
                rows=sum(t.num_rows for t in part),
            )

        return stream("kv_ttl_warm", tables[:WARM_FILES]), stream("kv_ttl", tables)

    def drain(self, s: Stream, tag: str, trace: bool) -> tuple[bool, Pass]:
        from spark_states_spark.streaming.runner import run_stream_to_table
        from spark_states_spark.streaming.state_reader import num_state_keys
        from spark_states_spark.streaming.ttl import OPS_SCHEMA

        name = f"{s.tag}_{tag}"
        ckpt = os.path.join(self.work, "checkpoints", name)
        cpu0, t0 = self.cpu(), time.perf_counter()
        src = (
            self.spark.readStream.schema(OPS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(s.src_dir)
        )
        out, progress = run_stream_to_table(
            s.query(src),
            "append",
            query_name=name,
            checkpoint_location=ckpt,
            with_progress=True,
        )
        wall, cpu = time.perf_counter() - t0, self.cpu()
        try:
            rows = out.collect()
        finally:
            self.spark.catalog.dropTempView(name)
        data = [p for p in progress if p["numInputRows"] > 0]
        ok = (
            len(data) == s.files
            and sum(p["numInputRows"] for p in data) == s.rows
            and s.check(rows)
        )
        layer = stats.reduce_drain(progress, wall) if trace else {}
        if trace:
            t1 = time.perf_counter()
            keys = num_state_keys(self.spark, ckpt)
            layer["state_reader.scan_s"] = time.perf_counter() - t1
            layer["state_reader.keys"] = float(keys)
            ok = ok and keys == layer["state.rows_total"]
        shutil.rmtree(ckpt, ignore_errors=True)
        self.stop_state_stores()
        batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in data]
        return ok, Pass(wall, cpu[0] - cpu0[0], cpu[1] - cpu0[1], batch_ms, layer)

    def run_stream(self, warm: Stream, s: Stream) -> dict[str, float]:
        t0 = time.perf_counter()
        self.unit(self.drain, warm, "p", False)
        self.warm_pass_s = time.perf_counter() - t0
        plain, traced = self.timed_passes(lambda tag, trace: self.drain(s, tag, trace))
        if traced:
            self.layer.update(stats.combine_drains([p.layer for p in traced]))
            self.layer["runner.drain_s"] = statistics.median(p.wall_s for p in traced)
            # Tracing runs after a drain ends, so every drain's batches count.
            batch_ms = [b for p in plain + traced for b in p.batch_ms]
            if stats.supported(len(batch_ms), 0.5):
                self.layer["runner.batch_ms_p50"] = stats.percentile(batch_ms, 0.5)
        return self.end_to_end(plain, traced, s.rows)

    # --- batch catalog -------------------------------------------------------

    def catalog_entry(self, name: str, data_dir: str):
        """Run one entry in isolation from the previous ones; return its
        DataFrame and build time."""
        from spark_states_spark import catalog

        self.spark.catalog.clearCache()
        catalog.clear_shared_memos(name)
        self.stop_state_stores()
        t0 = time.perf_counter()
        df = catalog.QUERIES[name](self.spark, data_dir)
        return df, time.perf_counter() - t0

    def check_catalog(self, data_dir: str, tables: dict[str, str]) -> None:
        """The warm pass: every entry collected and compared with its DuckDB
        oracle, once per run and outside the timed passes."""
        import duckdb

        from spark_states_spark.catalog import ORACLES
        from tests.oracle_utils import canonicalize

        con = duckdb.connect()
        for table, path in tables.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

        def check(name: str):
            df, _ = self.catalog_entry(name, data_dir)
            got = canonicalize(df.columns, [tuple(r) for r in df.collect()])
            res = con.execute(ORACLES[name])
            cols = [d[0] for d in res.description]
            want = canonicalize(cols, res.fetchall())
            if got != want:
                print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
            return got == want, None

        for name in CATALOG_ENTRIES:
            self.unit(check, name)
        con.close()

    def catalog_pass(self, data_dir: str, tag: str, trace: bool) -> tuple[bool, Pass]:
        layer = {}
        cpu0, t0 = self.cpu(), time.perf_counter()
        for name in CATALOG_ENTRIES:
            df, build_s = self.catalog_entry(name, data_dir)
            if trace:
                qe = df._jdf.queryExecution()
                tree = qe.executedPlan().toString()
                phases = qe.tracker().phases()
                catalyst = 0.0
                for phase in ("analysis", "optimization", "planning"):
                    opt = phases.get(phase)
                    if opt.isDefined():
                        catalyst += opt.get().durationMs()
                for k, v in stats.plan_counts(tree).items():
                    layer[k] = layer.get(k, 0) + v
                layer[f"{name}.catalyst_ms"] = catalyst
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            layer[f"{name}.build_s"] = build_s
            layer[f"{name}.exec_s"] = t3 - t2
        wall, cpu = time.perf_counter() - t0, self.cpu()
        return True, Pass(wall, cpu[0] - cpu0[0], cpu[1] - cpu0[1], [], layer)

    def run_catalog(self) -> dict[str, float]:
        data_dir = os.path.join(self.work, "catalog")
        counts = gen.write_catalog(data_dir)
        tables = {t: os.path.join(data_dir, f"{t}.parquet") for t in counts}
        rows = sum(counts[t] for reads in CATALOG_ENTRIES.values() for t in reads)
        t0 = time.perf_counter()
        self.check_catalog(data_dir, tables)
        self.warm_pass_s = time.perf_counter() - t0
        plain, traced = self.timed_passes(
            lambda tag, trace: self.catalog_pass(data_dir, tag, trace)
        )
        if traced:
            for name in traced[0].layer:
                self.layer[name] = statistics.median(p.layer[name] for p in traced)
        return self.end_to_end(plain, traced, rows)

    # --- reporting -----------------------------------------------------------

    def end_to_end(self, plain: list[Pass], traced: list[Pass], rows: int) -> dict:
        pass_s = statistics.median(p.wall_s for p in plain)
        self.layer["run.pass_s"] = pass_s
        self.layer["run.events_per_s"] = rows / pass_s
        if traced:
            self.layer["trace.pass_s"] = statistics.median(p.wall_s for p in traced)
            self.layer["trace.overhead_s"] = self.layer["trace.pass_s"] - pass_s
        if traced:
            self.layer["jvm.jit_s"] = statistics.median(p.jit_s for p in traced)
        self.layer["jvm.peak_rss_mb"] = self.peak_rss_mb()
        return {"cpu_s": statistics.median(p.cpu_s for p in plain), "passes": plain}


def thread_cpu_s(pid: int, name: str) -> float:
    """CPU seconds of the threads of ``pid`` whose name contains ``name``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if name not in fh.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread ended
            continue
        total += int(fields[11]) + int(fields[12])  # utime stime
    return total / os.sysconf("SC_CLK_TCK")


def _process_tree() -> dict[int, tuple[str, int]]:
    """This process and its live descendants: pid → (state, CPU ticks:
    utime + stime + cutime + cstime)."""
    parent, info = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        info[pid] = (fields[0], sum(int(f) for f in fields[11:15]))
    me = os.getpid()

    def mine(pid: int) -> bool:
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return {pid: v for pid, v in info.items() if mine(pid)}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants, live or reaped: the JVM and the Python workers with it."""
    return sum(cpu for _, cpu in _process_tree().values()) / os.sysconf("SC_CLK_TCK")


def wait_ended(pids: set[int], timeout_s: float) -> None:
    """Wait until every process in ``pids`` has ended; kill what is left
    after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while pids:
        for pid in list(pids):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ended = fh.read().rsplit(")", 1)[1].split()[0] == "Z"
            except OSError:
                ended = True
            if ended:
                pids.discard(pid)
        if pids and time.monotonic() > deadline:
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def ttl_profile(tables, cfg) -> dict[str, float]:
    """ttl.kernel_calls: (key, batch) groups in the input; ttl.replay_us_p50:
    ``replay_virtual`` + ``outcomes_frame`` timed per group in this process,
    state carried across batches as the stateful operator carries it."""
    from spark_states_spark.streaming.ttl import outcomes_frame, replay_virtual

    state: dict[str, tuple[int, int]] = {}
    samples = []
    for table in tables:
        for key, rows in table.to_pandas().groupby("key", sort=False):
            value, last = state.get(key, (None, None))
            t0 = time.perf_counter_ns()
            out, survived = replay_virtual(rows, cfg, value, last, key in state)
            if out:
                outcomes_frame(out)
            samples.append((time.perf_counter_ns() - t0) / 1000.0)
            if survived is None:
                state.pop(key, None)
            else:
                state[key] = survived
    return {
        "ttl.kernel_calls": float(len(samples)),
        "ttl.replay_us_p50": stats.percentile(samples, 0.5),
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    bench = Bench(args, work)
    try:
        env = set_environment(work)
        sys.path.insert(0, ROOT)
        import spark_states_spark.catalog  # noqa: F401  (counted in setup_s)

        setup_s = bench.setup()
        if args.workload == "batch_catalog":
            e2e = bench.run_catalog()
        else:
            e2e = bench.run_stream(*bench.kv_streams())
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    e2e["setup_s"] = setup_s
    print(
        f"perfbench {args.workload} seed={args.seed} cores={NPROC} "
        f"pass_s={[round(p.wall_s, 2) for p in e2e['passes']]} "
        f"cpu_s={[round(p.cpu_s, 2) for p in e2e['passes']]} "
        f"jit_s={[round(p.jit_s, 2) for p in e2e['passes']]} "
        f"warm_pass_s={bench.warm_pass_s:.2f} "
        f"error_rate={bench.failed / bench.attempted:.4f} "
        f"conf={json.dumps(bench.conf)} env={json.dumps(env)}"
    )
    wanted = PER_LAYER if args.trace else END_TO_END
    source = {**dict.fromkeys(PER_LAYER, 0.0), **bench.layer} if args.trace else e2e
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            name: {"value": float(source[name]), "unit": unit}
            for name, (unit, _) in wanted.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
