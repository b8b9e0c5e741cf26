"""Materialize and release: the one owner of pinned frames and scratch dirs.

Builders never call ``persist``, ``localCheckpoint``, ``unpersist`` or
``tempfile.mkdtemp`` themselves.  They call

* ``materialize(df, name, how)`` to pin a frame the build reads more
  than once: ``"checkpoint"`` cuts the lineage now (an eager local
  checkpoint), ``"lazy"`` cuts it at the first action that computes the
  frame, ``"cache"`` keeps the lineage and caches the rows;
* ``temp_dir(prefix)`` for scratch space (stream staging, sinks,
  streaming checkpoints);
* ``release(df)`` to drop a pin before the query ends, where keeping it
  would pile up: a Lloyd round's previous assignment, a micro-batch's
  frames.

Every catalog call runs in a query scope (``plans/registry.py`` wraps
each ``QuerySpec.fn``).  When the build pinned anything, the scope
collects the returned result into a local relation and then releases
every frame and directory the build made, so no pin outlives the query
that made it.  Frames the IVF index memo keeps across queries are
declared with ``hold`` and left pinned (``operators/ivf_index.py``): the
scope only makes sure they are computed before their inputs go.  A
nested catalog call joins the scope it runs in.  Outside any scope the
pins are the caller's to release.

``scope()`` opens a scope as a block.  Catalog calls inside it join it,
so they return their frames unmaterialized, and everything their builds
pinned is released when the block ends: plan dumps explain the lazy
frames inside such a block.

The scope is per thread: a foreachBatch function runs on a callback
thread, outside the query's scope, and releases its own frames.  The
scope tracks the frames this module made rather than a JVM-side list of
persisted RDDs, so Spark Connect sessions work too: there a released
checkpoint is dropped and the server frees it with the last reference.
"""

from __future__ import annotations

import functools
import shutil
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_local = threading.local()


class _Scope:
    def __init__(self):
        self.frames: list[DataFrame] = []
        self.dirs: list[str] = []
        self.held: list[DataFrame] = []


def _current() -> _Scope | None:
    return getattr(_local, "scope", None)


def materialize(df: DataFrame, name: str, how: str = "checkpoint") -> DataFrame:
    """Pin ``df`` (see the module docstring for ``how``); the active
    scope releases it when the query ends.  ``name`` labels the pin."""
    if how not in ("checkpoint", "lazy", "cache"):
        raise ValueError(f"materialize {name}: unknown how={how!r}")
    out = df.persist() if how == "cache" else df.localCheckpoint(eager=how == "checkpoint")
    out._pin = (name, how)
    s = _current()
    if s is not None:
        s.frames.append(out)
    return out


def release(df: DataFrame) -> None:
    """Unpin a frame ``materialize`` made, now."""
    s = _current()
    if s is not None:
        s.frames = [f for f in s.frames if f is not df]
    _unpin(df)


def temp_dir(prefix: str) -> str:
    """A new scratch directory, removed when the active scope ends."""
    path = tempfile.mkdtemp(prefix=prefix)
    s = _current()
    if s is not None:
        s.dirs.append(path)
    return path


def hold(*frames: DataFrame) -> None:
    """Declare frames that outlive the query (the IVF index memo): the
    scope computes them before it releases their inputs, and never
    releases them itself."""
    s = _current()
    if s is not None:
        s.held.extend(frames)
        s.frames = [f for f in s.frames if all(f is not h for h in frames)]


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD that holds a checkpointed frame's blocks; None for a
    cached frame, and under Spark Connect, which frees a checkpoint with
    its last reference."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None or df._pin[1] == "cache":
        return None
    return jdf.queryExecution().analyzed().rdd()


def _unpin(df: DataFrame) -> None:
    if df._pin[1] == "cache":
        df.unpersist()
    elif (rdd := _checkpoint_rdd(df)) is not None:
        rdd.unpersist(False)


def _close(s: _Scope) -> None:
    try:
        # run the jobs a held lazy checkpoint still needs, so its rows no
        # longer depend on the frames released below
        for df in s.held:
            rdd = _checkpoint_rdd(df)
            if rdd is not None and not rdd.isCheckpointed():
                rdd.count()
    finally:
        for df in reversed(s.frames):
            _unpin(df)
        for path in s.dirs:
            shutil.rmtree(path, ignore_errors=True)


@contextmanager
def scope():
    """A query scope as a block: pins made inside are released at its
    end, and catalog calls inside join it (so they return their frames
    unmaterialized)."""
    if _current() is not None:
        raise RuntimeError("a query scope is already open in this thread")
    s = _Scope()
    _local.scope = s
    try:
        yield s
    finally:
        _local.scope = None
        _close(s)


def _collect_local(df: DataFrame) -> DataFrame:
    """``df``'s rows as a local relation: the result stands alone once
    the build's pins are released, and leaves no cached RDD behind."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:  # Spark Connect: the server pins it for the frame's life
        return df.localCheckpoint()
    session = df.sparkSession
    local = session._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
    return type(df)(local, session)


def query_scope(fn):
    """Wrap a catalog builder ``(spark, sf_dir) -> DataFrame`` so it runs
    in a query scope."""

    @functools.wraps(fn)
    def run(spark, sf_dir):
        if _current() is not None:
            return fn(spark, sf_dir)
        with scope() as s:
            df = fn(spark, sf_dir)
            return _collect_local(df) if s.frames or s.dirs else df

    return run
