"""SparkSession builder helpers.

``use_rocksdb_state_store`` is the PySpark-native equivalent of the
reference's ``SparkSession.Builder`` implicit ``useRocksDBStateStore()``
(``implicits.scala:32-38``), pointed at Spark's *built-in* RocksDB provider
(SPARK-34198 — the modern descendant of the reference) instead of a custom
JNI provider, with changelog checkpointing enabled (supersedes the
reference's full-zip-per-commit snapshots, Provider.scala:448-462).

Tuning mirrors the intent of the reference's RocksDB options
(Provider.scala:101-107: 200 MB write buffers ×3, background compactions,
compression) through the ``spark.sql.streaming.stateStore.rocksdb.*`` conf
namespace.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# Defaults sized for the local[32] test harness; on a real cluster these are
# overridden per-deployment. Shuffle partitions should be ~2-3× total cores.
_LOCAL_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    # The events fixture stores TIMESTAMP(NANOS) which Spark rejects by
    # default; read it as raw int64 nanos and convert explicitly
    # (sources.tables.with_event_time).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Capacity gate for RAM-backed scratch (r15, VERDICT r14 #3 / ADVICE r14):
# in default Docker containers /dev/shm is 64 MiB, and tmpfs generally sits
# well below disk size — shuffle files and RocksDB working dirs there fail
# with ENOSPC (or pressure the page cache into OOM) in environments where a
# disk-backed /tmp would have worked. The floor is deliberately generous
# relative to this harness's scratch profile (sf0.1 inputs are ~17 MB; the
# 100x scaleprobe replica ~1.7 GB) while still rejecting every
# small-tmpfs environment the advice describes.
_SHM_MIN_FREE_GIB = 8.0
_SHM_SF_MULTIPLE = 4.0


def _dir_size_bytes(path: str) -> int:
    """Total size of the regular files anywhere under ``path``, walking
    nested and hive-partitioned layouts like sources.tables._parquet_files
    (ADVICE r15 #2); 0 when unreadable — callers treat 0 as "unknown"."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            try:
                if os.path.isfile(fp):
                    total += os.path.getsize(fp)
            except OSError:
                pass
    return total


def shm_scratch_root() -> str | None:
    """``/dev/shm`` when it is present, writable AND has the headroom for
    this workload's scratch; None otherwise (callers fall back to the
    disk-backed tempdir). The gate (ADVICE r14: statvfs free bytes above a
    threshold): free space must clear max(_SHM_MIN_FREE_GIB GiB — env
    ``SPARK_GRAFT_SHM_MIN_FREE_GIB`` overrides — and _SHM_SF_MULTIPLE x
    the $SPARK_GRAFT_SF_DIR input size when that dir resolves), since
    shuffle/spill scratch scales with input. A static build-time check is
    necessarily a heuristic — the override and the fallback keep it safe
    in both directions."""
    shm = "/dev/shm"
    if not (os.path.isdir(shm) and os.access(shm, os.W_OK)):
        return None
    try:
        st = os.statvfs(shm)
        free = st.f_bavail * st.f_frsize
    except OSError:
        return None
    min_free = float(
        os.environ.get("SPARK_GRAFT_SHM_MIN_FREE_GIB", _SHM_MIN_FREE_GIB)
    ) * (1 << 30)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if sf_dir and os.path.isdir(sf_dir):
        min_free = max(min_free, _SHM_SF_MULTIPLE * _dir_size_bytes(sf_dir))
    return shm if free >= min_free else None


WORKER_DAEMON_MODULE = "spark_states_spark.worker_daemon"


def _worker_daemon_conf() -> dict[str, str]:
    """``spark.python.daemon.module`` = the engine's worker daemon when the
    Python workers can import this package, else nothing (Spark's default
    daemon). Workers start as ``python -m`` in the JVM's cwd, which is this
    process's cwd at JVM launch, with the JVM's ``$PYTHONPATH``; so the
    package's parent dir must be a site-packages dir, a ``$PYTHONPATH``
    entry or the cwd. The engine's kernels are cloudpickled by reference to
    ``spark_states_spark.*``, so they need the same."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    importable = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    if any(p and os.path.realpath(p) == root for p in importable):
        return {"spark.python.daemon.module": WORKER_DAEMON_MODULE}
    return {}


def use_rocksdb_state_store(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Configure a builder to use the RocksDB state store provider.

    Parity: reference ``implicits.scala:32-38`` (sets
    ``spark.sql.streaming.stateStore.providerClass``). Additionally enables
    changelog checkpointing — the modern replacement for the reference's
    full-snapshot-per-commit durability (Provider.scala:448-462) — and write
    buffer tuning in the spirit of Provider.scala:101-107.
    """
    return (
        builder.config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # 64 MB write buffers (reference used 200 MB ×3 for a heavy JNI store;
        # Spark's provider defaults are per-partition so keep them moderate).
        .config("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB", "64")
        .config("spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber", "3")
        .config("spark.sql.streaming.stateStore.rocksdb.compression", "lz4")
        # NOTE (r15, ADVICE r14): rocksdb.trackTotalNumberOfRows is NO
        # LONGER flipped here. The r14 throughput default (tracking off —
        # every put/delete otherwise pays an extra RocksDB point lookup
        # solely for the numRowsTotal/numRowsRemoved counters) made every
        # library user of build_session see -1 on the lastProgress metrics
        # surface that streaming/metrics.py documents as the parity answer
        # to the reference's StateStore.metrics. The throughput default now
        # lives only in the ENGINE's own entry paths (__spark_entry__
        # _ensure_conf, harness.engine_session for the scripts — the conf
        # is runtime-settable and read at query start), so library
        # sessions keep Spark's documented metric semantics.
    )


def build_session(
    app_name: str = "spark_states_spark",
    master: str | None = None,
    rocksdb_state: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in _LOCAL_DEFAULTS.items():
        builder = builder.config(k, v)
    # Local mode runs every task in the driver JVM: 32 concurrent tasks on
    # spark-submit's 1 GiB default heap is GC-bound (the 10x scale probe
    # flat-out dies on it). 8 GiB on the 128 GiB harness box; applies only
    # when this process launches the JVM (ignored by getOrCreate on a live
    # session, so tests sharing a session are unaffected mid-run). Read at
    # CALL time, not import time — a caller (scaleprobe) that sets
    # SPARK_GRAFT_DRIVER_MEM in main() after importing this module must
    # still get its heap (ADVICE r08: the import-time read silently ran
    # the 24g probe on 8g).
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    # Scratch space (shuffle files, RocksDB working dirs) on the fastest
    # local storage available (optimization r14, guide §2.1: local disk
    # bandwidth can be the shuffle's tighter limit). On this harness /tmp
    # is disk-backed ext4 while the box has 128 GiB RAM, so a RAM-backed
    # scratch dir is the local equivalent of the NVMe scratch volumes a
    # production cluster mounts for spark.local.dir. Capacity-gated (r15,
    # VERDICT r14 #3: a small tmpfs must fall back to the disk tempdir,
    # see shm_scratch_root). Env-overridable; static conf, so it only
    # applies when this process launches the JVM.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        shm = shm_scratch_root()
        if shm is not None:
            local_dir = os.path.join(shm, "sss_spark_local")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if rocksdb_state:
        builder = use_rocksdb_state_store(builder)
    # Python workers forked from the engine's daemon skip the per-task
    # re-read of pyspark.zip's directory (see worker_daemon).
    for k, v in {**_worker_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
