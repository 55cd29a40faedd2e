"""SparkSession construction and per-session tuning.

Two entry points:

- ``get_spark``         build a local session (tests / bench) with scale-aware
                        defaults: AQE on, shuffle partitions ~= cores, Arrow on.
- ``configure_session`` apply the *runtime* confs this engine depends on to an
                        externally provided session (the driver hands us one).

Scale notes (the same code must hold on a 1000-executor cluster at ~100 TB):

- AQE (`spark.sql.adaptive.*`) is the single most important knob at scale:
  runtime partition coalescing, skew-join splitting, and join-strategy
  switching replace hand-tuned shuffle counts.
- `spark.sql.shuffle.partitions` is sized to cores locally; on a real cluster
  AQE's coalescing makes the static value mostly irrelevant as long as it is
  high enough (set it to 2-3x total executor cores).
- Session timezone is pinned to UTC so timestamp semantics are stable across
  driver machines (and match the DuckDB oracle, which is UTC-naive).
- `spark.sql.legacy.parquet.nanosAsLong` lets Spark scan parquet
  TIMESTAMP(NANOS) columns as raw int64 nanos — without it a NANOS-flavor
  `events` file fails to scan at all.  It is a no-op for TIMESTAMP(MICROS)
  files (the other fixture flavor), which scan natively as TIMESTAMP_NTZ;
  `tables.normalize_events` dispatches on whichever type actually arrived.
  Keeping nanos as INT64 mirrors the reference's own schema choice
  (reference: hedera-etl-bigquery/src/main/resources/transactions-schema.json:7-10)
  and the microsecond TIMESTAMP derivation
  (reference: TransactionJsonToTableRow.java:57-58).

Local ``file:`` I/O without child processes.  Without native ``libhadoop``
(``NativeIO.isAvailable()`` false, as in a pip-installed pyspark), Hadoop's
``RawLocalFileSystem`` forks ``chmod`` for every file and directory it
creates and ``readlink`` twice per ``FileContext`` rename: about 2,200
child processes in one traced ``perfbench`` ``hedera_two_tier`` run, and
about 50 ms of each streaming trigger's offset-log and commit-log writes
(docs/PERF_NOTES.md).
``jvm/NioLocalFileSystem.java`` replaces those two calls with their
java.nio equivalents (``Files.setPosixFilePermissions`` with the same nine
mode bits; ``Files.isSymbolicLink`` before the link lookup) and falls back
to Hadoop's own code for anything else: special mode bits, a non-POSIX
store, a real or dangling symlink.  Everything else is Hadoop's:
``ChecksumFileSystem`` / ``ChecksumFs`` keep the ``.crc`` sidecars and
read-side verification, and file modes and layout are unchanged.

- ``get_spark`` compiles the source once per source hash and Spark version
  into ``fsutil.secure_cache_root("jvm")`` and puts the jar on
  ``spark.driver.extraClassPath``; ``spark.hadoop.fs.file.impl`` and
  ``spark.hadoop.fs.AbstractFileSystem.file.impl`` then name its
  ``FileSystem`` and its ``FileContext`` twin (the one Spark's streaming
  checkpoint writes through).
- It names the classes only in a JVM that can load them: one it launches
  with the jar, or a running one that already has the class.  Without
  ``javac`` on ``PATH`` it warns once and keeps Hadoop's filesystem.
- Local ``file:`` paths only: object stores, ``configure_session`` (a
  session built elsewhere) and the pyarrow paths are untouched.
- Stock pyspark resolves ``file:`` through ``ServiceLoader`` to hive-exec's
  ``org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem``, a
  ``FilterFileSystem`` over ``LocalFileSystem`` that Hive uses to serve
  ``pfile:`` test URIs; the replacement is a plain ``LocalFileSystem``
  subclass.
"""

from __future__ import annotations

import os
import weakref

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: Runtime-settable confs the engine relies on.  Applied both when we build
#: the session ourselves and when the driver hands us one.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the 64 MB advisory size instead of preserving the static
    # partition count: tiny shuffles collapse to a handful of tasks (the
    # dominant term in the per-query floor — measured -25% across the 12
    # sub-second bench queries at sf0.1), while at production scale any
    # shuffle with >= advisory-size per task keeps its parallelism.
    # Explicit repartition(n) calls (ensure_parallelism's CPU-spread) are
    # not coalesced, so CPU-heavy small-data stages keep their fan-out.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The engine deliberately does NOT hard-hint growing tables (facts,
    # customer-scale dims) — size-aware broadcast election happens here
    # instead, and degrades to shuffled joins past the threshold.  64 MB
    # assumes >= 4 GB executors (build side materializes on every
    # executor); tune down for small containers.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    Idempotent and memoized: every table load funnels through here, and
    re-setting 7 confs is ~10 ms of py4j per call — measurable when a
    query touches several tables (driver-cost note in transform.py).
    """
    if spark in _CONFIGURED:
        return spark
    skipped = []
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # conf not settable at runtime in this build
            skipped.append((key, exc))
    if skipped:
        # Not memoized: a transiently-failed set gets retried on the next
        # call instead of being silently pinned as "configured".
        import warnings

        for key, exc in skipped:
            warnings.warn(f"configure_session: could not set {key}: {exc}")
    else:
        _CONFIGURED.add(spark)
    return spark


#: Hadoop's local filesystem with java.nio in place of its shell-outs
#: (module docstring); the source compiles into a per-user cached jar.
_LOCALFS_SRC = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")
LOCALFS_CONFS = {
    "spark.hadoop.fs.file.impl": "hedera_etl_spark.jvm.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "hedera_etl_spark.jvm.NioLocalFs",
}
#: "jar" -> the built jar, or None once a build could not run
_LOCALFS_JAR: dict = {}
#: py4j gateway -> whether its JVM loads the filesystem classes
_JVM_HAS_LOCALFS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _build_localfs_jar() -> str | None:
    """Compile ``_LOCALFS_SRC`` into the jar cache, or return the jar
    already built for this source and Spark version.  Built under
    ``fsutil.dir_lock`` and moved into place by one rename, so a reader
    never sees a partial jar.  None, with one warning, when the jar cannot
    be had: no ``javac`` on ``PATH``, a failed compile, or no usable cache
    directory."""
    import hashlib
    import shutil
    import subprocess
    import tempfile
    import warnings
    import zipfile

    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    from hedera_etl_spark import fsutil

    with open(_LOCALFS_SRC, "rb") as fh:
        key = hashlib.sha256(fh.read() + pyspark.__version__.encode()).hexdigest()
    try:
        root = fsutil.secure_cache_root("jvm")
        jar = os.path.join(root, f"nio-localfs-{key[:16]}.jar")
        if os.path.exists(jar):
            return jar
        javac = shutil.which("javac")
        if javac is None:
            raise OSError("no javac on PATH")
        with fsutil.dir_lock(jar):
            if os.path.exists(jar):
                return jar
            with tempfile.TemporaryDirectory(dir=root) as tmp:
                classes = os.path.join(tmp, "classes")
                cp = os.path.join(_find_spark_home(), "jars", "*")
                cmd = [javac, "--release", "17", "-nowarn", "-cp", cp, "-d", classes, _LOCALFS_SRC]
                done = subprocess.run(cmd, capture_output=True, text=True)
                if done.returncode:
                    raise OSError(f"javac failed:\n{done.stderr.strip()}")
                staged = os.path.join(tmp, "localfs.jar")
                with zipfile.ZipFile(staged, "w", zipfile.ZIP_DEFLATED) as zf:
                    for dirpath, _, files in os.walk(classes):
                        for name in files:
                            full = os.path.join(dirpath, name)
                            zf.write(full, os.path.relpath(full, classes))
                os.replace(staged, jar)
        return jar
    except (OSError, RuntimeError) as exc:  # RuntimeError: cache dir not trusted
        warnings.warn(f"get_spark: {exc}; Spark keeps Hadoop's local filesystem, "
                      "which forks chmod for every file it writes")
        return None


def _localfs_confs(extra_class_path: str | None) -> dict:
    """The confs that switch a new session's ``file:`` filesystem to the
    java.nio one, or {} where the JVM could not load it.  A JVM that is
    already running keeps its classpath: it gets the class names only if
    it has the class (memoized per gateway).  Otherwise the jar joins the
    caller's ``spark.driver.extraClassPath``."""
    gateway = SparkContext._gateway
    if gateway is not None:
        if gateway not in _JVM_HAS_LOCALFS:
            try:
                gateway.jvm.java.lang.Class.forName(LOCALFS_CONFS["spark.hadoop.fs.file.impl"])
                _JVM_HAS_LOCALFS[gateway] = True
            except Exception:  # Py4JJavaError: ClassNotFoundException
                _JVM_HAS_LOCALFS[gateway] = False
        return dict(LOCALFS_CONFS) if _JVM_HAS_LOCALFS[gateway] else {}
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # spark-submit's JVM, not ours
        return {}
    jar = _LOCALFS_JAR.get("jar")
    if "jar" not in _LOCALFS_JAR or (jar is not None and not os.path.exists(jar)):
        jar = _LOCALFS_JAR["jar"] = _build_localfs_jar()
    if jar is None:
        return {}
    cp = f"{extra_class_path}{os.pathsep}{jar}" if extra_class_path else jar
    return {"spark.driver.extraClassPath": cp, **LOCALFS_CONFS}


def get_spark(
    app_name: str = "hedera-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build a local SparkSession with scale-aware defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to the core count (AQE coalesces further at runtime). Local
    ``file:`` I/O goes through the java.nio filesystem wherever the JVM
    can load it (module docstring).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # static conf (not runtime-settable): in local mode every block is
        # process-local, so the delay-scheduling wait only adds task-launch
        # latency; on object-storage clusters 0 is the standard setting too
        .config("spark.locality.wait", "0")
        # static conf, read once per JVM when codegen first runs: Spark's
        # default of 100 compiled classes is below one run's working set,
        # so every warm micro-batch recompiled classes the previous one
        # evicted.  Measured distinct generated classes of one
        # perfbench/run.py run (4-core box): corpus 364, hedera_two_tier
        # 121; at 100 entries they compiled 645 and 141 classes.  1024
        # holds both with headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    confs = dict(extra_confs or {})
    launching = SparkContext._gateway is None
    localfs = _localfs_confs(confs.get("spark.driver.extraClassPath"))
    confs.update(localfs)
    for key, value in confs.items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    if launching and SparkContext._gateway is not None:
        _JVM_HAS_LOCALFS[SparkContext._gateway] = bool(localfs)
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
