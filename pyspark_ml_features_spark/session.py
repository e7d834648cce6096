"""SparkSession factory with scale-oriented defaults.

Replaces the reference's ``init_spark`` (spark_ml_features_local.py:13-24),
which set only master + driver memory. We additionally enable AQE (runtime
partition coalescing + skew-join splitting), Arrow for any pandas boundary,
and a shuffle-partition count sized for the local harness; on a real cluster
these are overridden by spark-submit conf, so every knob here is a default,
not a hard-coded assumption.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
is off by default here. When it is on, every ``F.*`` and Column call
captures the Python call site and sends it to the JVM, several Py4J round
trips per call: about a third of the round trips of a query build. Off, a
runtime error's DataFrame context no longer names the Python line that
built the failing expression; analysis errors still raise at the builder
line. To turn it back on, build the session with the conf set to ``true``
before ``get_spark`` (it is a static conf, so ``getOrCreate`` keeps an
existing session's value). PySpark latches the setting once per process
(``pyspark.errors.utils._enable_debugging_cache``), on the first decorated
call: a driver session that has already made such a call keeps debugging
on, and ``tune_session`` cannot change it.

On a ``local[...]`` master (the default) Python workers also start from
``pyspark_ml_features_spark.worker``, which memoizes each zip archive's
parsed directory so a UDF task stops re-reading ``pyspark.zip`` on every
task. Other masters keep ``pyspark.worker``: their executors cannot see
the driver's source tree.

Importing this module also memoizes Py4J's class and method lookups. Each
``F.*`` call resolves ``functions`` through the JVM view and then the
function through the class, two reflection round trips before it invokes
anything; a simple name missing from the view's star imports scans every
jar on the class path. ``JVMView.__getattr__`` and
``JavaClass.__getattr__`` now keep each ``JavaClass`` and ``JavaMember``
they return, under (gateway client, view id or class name, attribute), so
a warm query build sends no reflection command. That is safe because
neither object holds state from the lookup: a ``JavaMember`` names a
static method, and Java picks the overload when it is called. Packages
and static-field values are looked up every time, failed lookups are not
kept, and two gateways never share an entry. A name looked up before a
later ``java_import`` that shadows it keeps its first class (PySpark
imports everything when it launches the gateway). The wrappers rely on
py4j internals (``JVMView._id``, ``JavaClass._fqn``,
``_gateway_client``); pyspark pins py4j to one exact version, 0.10.9.9
for pyspark 4.1.2.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass, JavaMember, JVMView
from pyspark.sql import SparkSession

DEFAULT_SEED = 42

# Confs every engine session gets: set by get_spark's builder, and by
# tune_session on a session built elsewhere (where static ones stay as the
# session was built).
ENGINE_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    # Driver tables store naive timestamps; align Spark's session-local
    # interpretation with DuckDB's naive reading for oracle parity.
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.python.sql.dataFrameDebugging.enabled", "false"),
    # The legacy events layout stores ts as TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read it as long (sources.io.with_event_ts
    # truncates it). Set for every read, so it never splits the parquet
    # relation memo, whose key holds this conf, by read order.
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` if set, else min(16g, half the host's
    MemTotal). A fixed 16g heap can exceed what a smaller host has to
    spare; the JVM then grows until the kernel's OOM killer ends it."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    cap_mib = 16 * 1024
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mib, int(line.split()[1]) // 2048)}m"
    except OSError:  # no /proc (macOS, Windows)
        pass
    return f"{cap_mib}m"


def get_spark(app_name: str = "pyspark-ml-features-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``); on a
    cluster, pass ``master=None`` with an external conf and these become
    no-ops for anything already set. A ``local[...]`` master also starts
    Python workers from ``pyspark_ml_features_spark.worker``, with the
    package's parent directory on their PYTHONPATH.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in ENGINE_CONFS:
        builder = builder.config(key, value)
    builder = (
        builder.config("spark.sql.shuffle.partitions",
                       str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32")))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        # keep catalog artifacts (bucketed-table tests) out of the repo
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pmfs-warehouse"))
    )
    if master == "local" or master.startswith("local["):
        # the daemon imports the worker module when it starts, before a
        # task puts the addPyFile zip on sys.path
        builder = (
            builder.config("spark.python.worker.module",
                           "pyspark_ml_features_spark.worker")
            .config("spark.executorEnv.PYTHONPATH",
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    how the driver process was launched (closures that reference module
    helpers pickle by reference, so workers must import us)."""
    if getattr(spark, "_pmfs_package_shipped", False):
        return
    import shutil
    import tempfile

    import pyspark_ml_features_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    # pid suffix: make_archive writes in place (not atomic), so a second
    # engine process archiving to the same path would hand addPyFile a
    # truncated zip
    zip_base = os.path.join(tempfile.gettempdir(),
                            f"pyspark_ml_features_spark_pkg_{os.getpid()}")
    try:
        zip_path = shutil.make_archive(
            zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir))
        # remove this pid's zip at exit — addPyFile copied it into Spark's
        # own temp dirs, so the staged archive would otherwise leak per run
        from pyspark_ml_features_spark.tmp_artifacts import register
        register(zip_path)
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # e.g. file already registered from a prior session
        pass
    spark._pmfs_package_shipped = True


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally provided session.

    The driver hands us its own SparkSession; make sure the confs our
    operators rely on (AQE, Arrow) are set without rebuilding it. The
    worker module of ``get_spark`` and the DataFrame debugging default are
    static confs, so such a session keeps ``pyspark.worker`` (and re-reads
    each zip directory per task) and keeps debugging as it was built.
    """
    _ship_package(spark)
    for key, value in ENGINE_CONFS:
        # every query build calls this: a set of a static conf would raise
        # (and build a JVM exception) each time, so set only what differs
        # and can change
        if spark.conf.get(key) != value and spark.conf.isModifiable(key):
            spark.conf.set(key, value)
    return spark


# (gateway client, view id or class name, attribute) -> JavaClass/JavaMember
_jvm_lookups: dict[tuple, object] = {}


def _memo_lookup(lookup, scope: str):
    def __getattr__(self, name):
        # through __dict__: a missing attribute would re-enter __getattr__
        attrs = self.__dict__
        client, where = attrs.get("_gateway_client"), attrs.get(scope)
        if client is None or where is None:
            return lookup(self, name)
        key = (client, where, name)
        found = _jvm_lookups.get(key)
        if found is None:
            found = lookup(self, name)
            if isinstance(found, (JavaClass, JavaMember)):
                _jvm_lookups[key] = found
        return found

    __getattr__._pmfs_memo = True
    return __getattr__


def _memoize_jvm_lookups() -> None:
    """Serve repeated class and method lookups from ``_jvm_lookups``
    (module docstring); a second call leaves the wrappers as they are."""
    for cls, scope in ((JVMView, "_id"), (JavaClass, "_fqn")):
        if not getattr(cls.__getattr__, "_pmfs_memo", False):
            cls.__getattr__ = _memo_lookup(cls.__getattr__, scope)


_memoize_jvm_lookups()
