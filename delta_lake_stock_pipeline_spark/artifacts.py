"""Session artifacts: values an operator builds once and reuses across
query keys -- fixture scan handles, ANN indexes, dedup postings, media
fingerprints, streaming replay outputs, lifecycle tables.

``@artifact`` memoizes a builder ``fn(spark, sf_dir, *args)`` on its
arguments. There is no scope option; the value decides how long it lives:

* a DataFrame, or a list/tuple/dict holding one, is kept per SparkSession
  OBJECT. A ``newSession()`` child shares the application but owns its SQL
  confs, so it must get frames planned under its own session.
* anything else (paths, numbers, arrays, child sessions) is kept per
  application and shared by every session of it.

Scratch dirs a build creates through ``session.scratch_mkdtemp`` (or hands
to ``own_dir``) belong to the artifact: they are removed if the build
raises, and again by ``clear_all()``. Only recorded dirs strictly below
the scratch root are ever removed -- never the root itself.

``setup=`` names an artifact that ``bench.py`` prices as a one-time setup
line, and ``used_by=`` lists the query keys that consume it, so the bench
builds it only when one of them runs.
"""

from __future__ import annotations

import functools
import os
import shutil
import weakref
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

# SparkSession -> {(builder, *args): value holding DataFrames}
_by_session: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
# applicationId -> {(builder, *args): value}. One SparkContext lives per
# process, so entries of any other application belong to a stopped one.
_by_app: dict[str, dict] = {}
# Scratch dirs owned by memoized artifacts, removed by clear_all().
_dirs: list[str] = []
# One list of created dirs per build in flight, innermost last.
_building: list[list[str]] = []


class Priced(NamedTuple):
    name: str
    used_by: frozenset
    build: Callable
    force: Callable | None

    def prime(self, spark: SparkSession, sf_dir: str) -> None:
        """Build the artifact and force whatever work it leaves lazy."""
        value = self.build(spark, sf_dir)
        if self.force is not None:
            self.force(value)


# Setup name -> declaration, for bench.py.
PRICED: dict[str, Priced] = {}


def _frames(value):
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (list, tuple, dict)):
        for v in value.values() if isinstance(value, dict) else value:
            yield from _frames(v)


def own_dir(path: str) -> None:
    """Record ``path`` as owned by the artifact being built (a no-op
    outside a build: the caller then owns the dir)."""
    if _building:
        _building[-1].append(path)


def _remove(path: str) -> None:
    from .session import scratch_root

    root = os.path.realpath(scratch_root())
    real = os.path.realpath(path)
    if real.startswith(root + os.sep):
        shutil.rmtree(real, ignore_errors=True)


def artifact(
    fn: Callable | None = None,
    *,
    setup: str | None = None,
    used_by: tuple[str, ...] = (),
    force: Callable | None = None,
):
    """Memoize ``fn(spark, *args)`` under the scoping rule above. With
    ``setup=``, also declare it as a priced setup line consumed by the
    ``used_by`` keys; ``force(value)`` then runs after the build."""

    def wrap(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def memo(spark: SparkSession, *args):
            key = (memo, *args)
            per_session = _by_session.get(spark)
            if per_session is not None and key in per_session:
                return per_session[key]
            app = spark.sparkContext.applicationId
            per_app = _by_app.get(app)
            if per_app is None:
                _by_app.clear()  # a new application: the old one is stopped
                per_app = _by_app[app] = {}
            if key in per_app:
                return per_app[key]
            _building.append([])
            try:
                value = fn(spark, *args)
            except BaseException:
                for path in _building.pop():
                    _remove(path)
                raise
            _dirs.extend(_building.pop())
            if next(_frames(value), None) is not None:
                _by_session.setdefault(spark, {})[key] = value
            else:
                per_app[key] = value
            return value

        if setup is not None:
            PRICED[setup] = Priced(setup, frozenset(used_by), memo, force)
        return memo

    return wrap if fn is None else wrap(fn)


def clear_all() -> None:
    """Forget every artifact, unpersist the frames builders persisted, and
    delete every dir the facility recorded."""
    for per_session in list(_by_session.values()):
        for value in per_session.values():
            for df in _frames(value):
                if df.is_cached:
                    try:
                        df.unpersist()
                    except Exception:
                        pass  # session already stopped; blocks went with it
    _by_session.clear()
    _by_app.clear()
    while _dirs:
        _remove(_dirs.pop())
