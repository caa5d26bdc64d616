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
the scratch root are ever removed -- never the root itself, Spark's
``spark-local`` dir or pytest's ``pytest-of-*`` dirs.

A killed process runs neither rule, so ``scratch_mkdtemp`` puts every dir
in its process's owner dir ``owner-<pid>-<start>`` below the root, where
``<start>`` is the process start time (field 22 of ``/proc/<pid>/stat``).
A process's first ``scratch_mkdtemp`` removes every owner dir whose pid is
gone or now names a different process (pid reuse: the start time
differs). A live process's dirs are never removed; without ``/proc``
nothing is.

``setup=`` names an artifact that ``bench.py`` prices as a one-time setup
line, and ``used_by=`` lists the query keys that consume it, so the bench
builds it only when one of them runs.
"""

from __future__ import annotations

import functools
import os
import re
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
    if not real.startswith(root + os.sep):
        return
    top = real[len(root) + 1 :].split(os.sep)[0]
    if top != "spark-local" and not top.startswith("pytest-of-"):
        shutil.rmtree(real, ignore_errors=True)


def _start_time(pid: int) -> str | None:
    """Start time of process ``pid`` in clock ticks after boot (field 22
    of ``/proc/<pid>/stat``), or None when the process is gone or there is
    no ``/proc``. The command name may hold spaces and parentheses, so the
    fields are split after its last ``)``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()[19]


_OWNER = re.compile(r"owner-(\d+)-(\d+)")


def owner_dir() -> str:
    """This process's owner dir below the scratch root. The call that
    creates it first removes the owner dirs of dead processes."""
    from .session import scratch_root

    root = scratch_root()
    pid = os.getpid()
    start = _start_time(pid)
    path = os.path.join(root, f"owner-{pid}-{start or 0}")
    if not os.path.isdir(path):
        if start is not None:  # else no /proc: liveness unknown, keep all
            for name in os.listdir(root):
                m = _OWNER.fullmatch(name)
                if m and _start_time(int(m[1])) != m[2]:
                    _remove(os.path.join(root, name))
        os.makedirs(path, exist_ok=True)
    return path


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
