"""SparkSession construction.

Mirrors the reference's session seam (``databricks_utils.py:20-36``: local
builder + Delta extensions + env detection) but targets a plain local session
with scale-oriented defaults:

* AQE on (adaptive shuffle coalescing, skew-join splitting, dynamic join
  selection) -- at 100 TB these are the difference between a plan that works
  and one that dies on a skewed key.
* Arrow on, for every pandas-UDF / ``applyInPandas`` path.
* ``spark.sql.shuffle.partitions`` sized for the local fixture scale; on a
  real cluster AQE coalesces from a high initial number, so we set the
  initial partition count rather than hand-scheduling per query.
* Delta Lake extensions are attached only when delta-spark is importable
  (it is optional in this environment); everything else degrades to parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

try:  # optional: delta-spark is not installed in every environment
    from delta import configure_spark_with_delta_pip

    _HAVE_DELTA = True
except ImportError:  # pragma: no cover
    configure_spark_with_delta_pip = None
    _HAVE_DELTA = False


def have_delta() -> bool:
    """True when delta-spark is importable and sessions get Delta support."""
    return _HAVE_DELTA


def get_spark(
    app_name: str = "delta-lake-stock-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    ``shuffle_partitions`` defaults to the core count -- correct for the
    <=600k-row local fixtures; a cluster deployment would raise it and let
    AQE coalesce.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    # This sandbox's /tmp is periodically wiped by an external cleaner --
    # observed DELETING LIVE STATE MID-RUN (blockmgr shuffle files, the
    # round-trip keys' mkdtemp dirs, and twice a script kept there).
    # Keep every scratch surface -- Spark's local dirs AND
    # tempfile.mkdtemp's default -- under the repo instead. Harmless
    # elsewhere; a real deployment overrides with SPARK_LOCAL_DIRS on
    # fast local disks.
    scratch = scratch_root()
    if "TMPDIR" not in os.environ:
        import tempfile

        os.environ["TMPDIR"] = scratch
        tempfile.tempdir = None  # drop the cached default so TMPDIR applies
    if shuffle_partitions is None:
        # Measured on local[32] at sf0.1: 32 shuffle partitions run ~3x
        # slower than 16 (per-task overhead + GC dominate at sub-GB scale).
        # A cluster deployment passes an explicit high count and lets AQE
        # coalesce; the local default caps at 16.
        shuffle_partitions = min(16, os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Measured pathology (local[32], Spark 4.1): once a Python-UDF stage
        # has run, the idle pyspark.worker pool makes the JVM spend ~46% of
        # CPU in the kernel and slows SUBSEQUENT pure-JVM queries ~5x
        # (minhash 9 s -> 45 s). Cap the idle pool and reap idle workers;
        # Python stages re-fork from the daemon (~ms) so they stay fast.
        .config("spark.python.factory.idleWorkerMaxPoolSize", "2")
        .config("spark.python.worker.idleTimeoutSeconds", "10")
        .config("spark.python.worker.killOnIdleTimeout", "true")
        # CBO stays OFF: the engine reads bare parquet (no ANALYZE TABLE
        # catalog stats), so join reordering has nothing to work from and
        # the extra optimizer passes cost ~2 s of planning on every
        # first run of an 8-table join (measured: h_q8 3.6 s -> 1.7 s
        # with CBO off, identical steady-state). AQE supplies the
        # runtime re-planning CBO would have done statically. Flip these
        # on per-session after storage.analyze_table if stats exist.
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's type system has no ns-precision timestamp; read parquet
        # TIMESTAMP(NANOS) columns as raw long nanos (converted to us-precision
        # TimestampType in sources.fixtures, matching DuckDB's truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local fixtures are small files; keep driver display cheap
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", os.path.join(scratch, "spark-local"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    if _HAVE_DELTA:
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        spark = configure_spark_with_delta_pip(builder).getOrCreate()
    else:
        spark = builder.getOrCreate()
    return spark


def scratch_root() -> str:
    """The repo's ``.tmp/`` scratch root (created on demand). Every engine
    scratch surface lives here rather than /tmp, which a host cleaner may
    wipe MID-RUN (see get_spark): Spark's ``spark-local`` dir, the TMPDIR
    default, and each process's owner dir of artifact scratch
    (``scratch_mkdtemp``). Nothing here is meant to outlive the
    application that made it: artifacts are rebuilt per application from
    the parquet inputs."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"
    )
    os.makedirs(root, exist_ok=True)
    return root


def scratch_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` pinned under this process's owner dir below
    ``scratch_root()``. The get_spark TMPDIR default covers sessions built
    HERE, but the external driver builds its own vanilla session, under
    which a bare mkdtemp would land in /tmp (see scratch_root). Every
    engine scratch dir (format round-trips, lifecycle tables, streaming
    replays, ANN indexes) routes through this instead. A dir made inside
    an artifact build belongs to that artifact (``artifacts.own_dir``);
    the first call in a process removes the owner dirs of dead processes
    (``artifacts.owner_dir``)."""
    import tempfile

    from .artifacts import own_dir, owner_dir

    path = tempfile.mkdtemp(prefix=prefix, dir=owner_dir())
    own_dir(path)
    return path


def stop_spark_if_local(spark: SparkSession) -> None:
    """Stop the session when running against a local master.

    Reference parity: ``databricks_utils.py:71-73``.
    """
    if spark.conf.get("spark.master", "").startswith("local"):
        spark.stop()
