"""Resource lifetimes: the one registry for everything the engine pins.

Catalog entries and their shared materializations pin resources that
outlive the call creating them: localCheckpoint blocks, memory-sink temp
views, and streaming sink and checkpoint dirs. Each one is owned by an
``(sparkContext.applicationId, tag)`` pair — the engine's analogue of the
reference's ``StateStoreId(checkpointLocation, operatorId, partitionId)``
(PAPER.md §1.1) — and is freed only by an explicit :func:`release`, never
by a later call.

- :func:`scope` opens an ownership scope; resources acquired inside it
  belong to its tag (``catalog.register`` runs every entry under
  ``scope(entry_name)``). Outside any scope nothing is tracked: blocks are
  left to Spark's ContextCleaner, dirs to the runner's exit sweep.
- :func:`checkpoint` is an eager localCheckpoint owned by the active scope.
- :func:`shared` memoizes one value per (tag, key), built under
  ``scope(tag)`` so the resources it pins are released with the tag.
- :func:`release` frees a tag: unpersists its blocks, drops its views,
  removes its dirs and forgets its memoized values.

The first use under a new applicationId (an in-process Spark restart)
drops every other application's entries: their dirs are removed, their
RDD ids and view names forgotten — never unpersisted, because a new
context numbers its RDDs from 0 again.
"""

from __future__ import annotations

import contextlib
import contextvars
import shutil
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Owned:
    """Everything one (application, tag) pair owns."""

    rdd_ids: set[int] = field(default_factory=set)
    views: dict[str, SparkSession] = field(default_factory=dict)
    dirs: list[str] = field(default_factory=list)
    memo: dict = field(default_factory=dict)


_OWNED: dict[tuple[str, str], Owned] = {}
_APP: str | None = None
_SCOPE: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "spark_graft_lifetime_scope", default=None
)


@contextlib.contextmanager
def scope(tag: str):
    """Resources acquired inside the block belong to ``tag`` (innermost
    scope wins)."""
    token = _SCOPE.set(tag)
    try:
        yield tag
    finally:
        _SCOPE.reset(token)


def _app(sc: SparkContext) -> str:
    """``sc``'s applicationId; on the first use under a new application,
    drop every other application's entries."""
    global _APP
    app = sc.applicationId
    if app != _APP:
        for key in [k for k in _OWNED if k[0] != app]:
            for d in _OWNED.pop(key).dirs:
                shutil.rmtree(d, ignore_errors=True)
        _APP = app
    return app


def _entry(sc: SparkContext, tag: str) -> Owned:
    return _OWNED.setdefault((_app(sc), tag), Owned())


def owned(spark: SparkSession, tag: str) -> Owned:
    """What ``tag`` currently owns in ``spark``'s application."""
    return _entry(spark.sparkContext, tag)


def _rdd_id(df: DataFrame) -> int:
    # A localCheckpoint frame is a LogicalRDD over the one RDD it persisted.
    return df._jdf.queryExecution().analyzed().rdd().id()


def pinned_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently persisted in ``spark``'s context."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet()}


def _unpersist(sc: SparkContext, ids) -> None:
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df``; its blocks belong to the active
    scope until that tag's :func:`release`."""
    out = df.localCheckpoint(eager=True)
    tag = _SCOPE.get()
    if tag is not None:
        _entry(df.sparkSession.sparkContext, tag).rdd_ids.add(_rdd_id(out))
    return out


def unpin(df: DataFrame) -> None:
    """Free a :func:`checkpoint` frame's blocks now, ahead of its tag's
    release — for intermediates an iterative loop has superseded. The
    frame is unreadable afterwards."""
    rid = _rdd_id(df)
    sc = df.sparkSession.sparkContext
    _unpersist(sc, [rid])
    tag = _SCOPE.get()
    if tag is not None:
        _entry(sc, tag).rdd_ids.discard(rid)


def own_view(spark: SparkSession, name: str) -> None:
    """Record temp view ``name`` as owned by the active scope, if any."""
    tag = _SCOPE.get()
    if tag is not None:
        _entry(spark.sparkContext, tag).views[name] = spark


def temp_view(df: DataFrame, name: str) -> None:
    """``df.createOrReplaceTempView(name)``, owned by the active scope."""
    df.createOrReplaceTempView(name)
    own_view(df.sparkSession, name)


def own_dir(path: str) -> str:
    """Record ``path``, a dir the engine created, as owned by the active
    scope, if any; returns ``path``."""
    tag = _SCOPE.get()
    sc = SparkContext._active_spark_context
    if tag is not None and sc is not None:
        _entry(sc, tag).dirs.append(path)
    return path


def shared(spark: SparkSession, tag: str, key, build):
    """``build()``'s value, built once per (application, ``tag``, ``key``)
    under ``scope(tag)`` and kept until ``release(spark, tag)``."""
    memo = owned(spark, tag).memo
    if key not in memo:
        with scope(tag):
            memo[key] = build()
    return memo[key]


def release(spark: SparkSession | None, tag: str) -> None:
    """Free everything ``tag`` owns in ``spark``'s application (the active
    one when ``spark`` is None). Best-effort: a failed release must not
    turn a caller's cleanup into an error."""
    sc = SparkContext._active_spark_context if spark is None else spark.sparkContext
    if sc is None:
        return
    gone = _OWNED.pop((_app(sc), tag), None)
    if gone is None:
        return
    try:
        _unpersist(sc, gone.rdd_ids)
    except Exception:
        pass
    for name, session in gone.views.items():
        try:
            session.catalog.dropTempView(name)
        except Exception:
            pass
    for d in gone.dirs:
        shutil.rmtree(d, ignore_errors=True)
