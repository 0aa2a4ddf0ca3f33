"""The resource-lifetime registry (spark_states_spark/lifetime.py): what
the engine pins lives until an explicit release of its tag — a later call
never frees an earlier call's frame — and an in-process Spark restart
neither unpersists the new context's RDDs nor trips over the old
context's ids (ADVICE r15 #1)."""

import os
import subprocess
import sys
import tempfile

import pandas as pd

from spark_states_spark import lifetime
from spark_states_spark.operators.graph import pagerank_fixedpoint, triangle_count

from .test_graph import _py_pagerank_fp

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
K4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
BOWTIE = [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)]


def _edges(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame(edges, columns=["a", "b"]).astype("int64")
    )


def _check_generations(tri_a, tri_b, pr_a, pr_b):
    assert tri_a.collect()[0].n_triangles == 4
    assert tri_b.collect()[0].n_triangles == 2
    assert {r.v: r.r for r in pr_a.collect()} == _py_pagerank_fp(K4)
    assert {r.v: r.r for r in pr_b.collect()} == _py_pagerank_fp(BOWTIE)


def test_interleaved_generations_stay_readable(spark):
    """Two triangle_count / pagerank_fixedpoint generations built before
    either is read both stay readable — unscoped (left to the
    ContextCleaner) and inside one scope (owned until its release)."""
    e1, e2 = _edges(spark, K4), _edges(spark, BOWTIE)
    gens = (triangle_count(e1), triangle_count(e2))
    gens += (pagerank_fixedpoint(e1), pagerank_fixedpoint(e2))
    _check_generations(*gens)

    with lifetime.scope("test_interleaved"):
        gens = (triangle_count(e1), triangle_count(e2))
        gens += (pagerank_fixedpoint(e1), pagerank_fixedpoint(e2))
    owned = set(lifetime.owned(spark, "test_interleaved").rdd_ids)
    assert len(owned) == 4 and owned <= lifetime.pinned_rdd_ids(spark)
    _check_generations(*gens)
    lifetime.release(spark, "test_interleaved")
    assert not owned & lifetime.pinned_rdd_ids(spark)


_RESTART_SCRIPT = """
import os, sys, tempfile
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql import SparkSession
from spark_states_spark import lifetime
from spark_states_spark.operators.graph import triangle_count


def session():
    return (
        SparkSession.builder.master("local[1]")
        .appName("lifetime-restart")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )


def tri(spark):
    e = spark.createDataFrame(
        pd.DataFrame([(1, 2), (1, 3), (2, 3)], columns=["a", "b"])
    )
    return triangle_count(e)


spark = session()
with lifetime.scope("t"):
    first, second = tri(spark), tri(spark)
    stale_dir = lifetime.own_dir(tempfile.mkdtemp())
old_ids = set(lifetime.owned(spark, "t").rdd_ids)
assert len(old_ids) == 2 and first.collect() == second.collect()
spark.stop()

spark = session()
# Persist new-context RDDs until their ids cover the old context's pinned
# ids: a registry that unpersisted stale ids would hit one of these.
kept = []
while not kept or kept[-1].id() < max(old_ids):
    kept.append(spark.sparkContext.parallelize([1]).cache())
kept_ids = {{r.id() for r in kept}}
with lifetime.scope("t"):
    third = tri(spark)
assert third.collect()[0].n_triangles == 1
assert kept_ids <= lifetime.pinned_rdd_ids(spark), "new-context RDDs unpersisted"
assert not os.path.exists(stale_dir), "old application's dir kept"
assert len(lifetime.owned(spark, "t").rdd_ids) == 1
lifetime.release(spark, "t")
assert kept_ids <= lifetime.pinned_rdd_ids(spark)
spark.stop()
print("RESTART-OK")
"""


def test_session_restart_forgets_stale_ids():
    """spark.stop() + a new session + a third call: the old application's
    entries are dropped on first use (dirs removed, RDD ids forgotten), so
    the new context's RDDs that reuse those ids stay pinned. Runs in a
    child process: the suite's shared session must not be stopped."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT.format(root=ROOT)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "RESTART-OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )


def test_shared_builds_under_its_own_tag(spark):
    """A shared value's resources belong to the shared tag, not to the
    scope that first asked for it, and a second ask is a memo hit."""
    df = spark.range(10)
    with lifetime.scope("test_outer"):
        a = lifetime.shared(
            spark, "test_inner", "k", lambda: lifetime.checkpoint(df)
        )
        b = lifetime.shared(spark, "test_inner", "k", lambda: 1 / 0)
    assert a is b
    assert lifetime.owned(spark, "test_inner").rdd_ids
    assert not lifetime.owned(spark, "test_outer").rdd_ids
    lifetime.release(spark, "test_inner")
    lifetime.release(spark, "test_outer")
    assert not lifetime.owned(spark, "test_inner").memo


def test_release_drops_views_and_dirs(spark):
    with lifetime.scope("test_views"):
        lifetime.temp_view(spark.range(3), "lifetime_test_view")
        d = lifetime.own_dir(tempfile.mkdtemp())
    assert spark.catalog.tableExists("lifetime_test_view")
    lifetime.release(spark, "test_views")
    assert not spark.catalog.tableExists("lifetime_test_view")
    assert not os.path.exists(d)


def test_unscoped_acquisitions_are_not_tracked(spark):
    rid = lifetime._rdd_id(lifetime.checkpoint(spark.range(3)))
    lifetime.temp_view(spark.range(3), "lifetime_unscoped_view")
    spark.catalog.dropTempView("lifetime_unscoped_view")
    assert not any(
        rid in o.rdd_ids or "lifetime_unscoped_view" in o.views
        for o in lifetime._OWNED.values()
    )


def test_pinning_primitives_only_in_lifetime():
    """The single mechanism stays single: no other package module pins a
    checkpoint, walks the persisted-RDD map or drops a temp view."""
    pkg = os.path.join(ROOT, "spark_states_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == lifetime.__file__:
                continue
            with open(path) as fh:
                text = fh.read()
            offenders += [
                (os.path.relpath(path, ROOT), pat)
                for pat in ("localCheckpoint(", "getPersistentRDDs", "dropTempView")
                if pat in text
            ]
    assert not offenders
