"""SparkSession factory.

The reference delegates all execution to eager single-node Polars
(`update_pnls_report/pipeline.py`); our engine delegates to Catalyst +
Tungsten and therefore only needs to pick good session defaults:

- AQE is Spark's default (runtime shuffle-partition coalescing, skew-join
  splitting, dynamic join-strategy switch), as are parquet filter pushdown
  and 10,000-row Arrow batches; none is restated here.
- Arrow on for driver transfers and the pandas_udf islands (NFD fold,
  and fuzzy scoring of frames whose work exceeds
  ``operators.fuzzy.MAX_DRIVER_WORK``). Frames built on the driver (the
  REST sources, the fuzzy driver-path lookup) are handed to Spark as
  ``pyarrow`` Tables, which go through Arrow whatever this conf says.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (naive parquet timestamps).
- ``local[$SPARK_GRAFT_CPUS]`` by default for tests/bench; on a real
  cluster the caller passes its own master / lets spark-submit decide.
- Cold start: when this call launches the driver JVM itself, the JVM maps
  a JDK dynamic class-data-sharing (CDS) archive of its classes, kept in
  the user cache directory and keyed by the JDK and the Spark jars. With
  no archive yet, the JVM writes one when it exits and the archive is
  promoted only once it is known to be complete (see README "Cold
  start").
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Shuffle parallelism default: matched to local core count for tests; a real
# cluster deployment overrides this (or relies on AQE coalescing from a
# higher initial value).
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
_TMP_ARCHIVE = re.compile(r"driver-[0-9a-f]+\.jsa\.(\d+)\.tmp")
# the JVM options that set the compressed-oops and class-pointer mode an
# archive records; -Xshare:on refuses an archive dumped in another mode,
# and a heap of 32 GB or more turns compressed oops off
_OOPS_MODE = re.compile(
    r"-Xmx\S+|-XX:(MaxHeapSize|ObjectAlignmentInBytes)=\S+"
    r"|-XX:[+-]UseCompressed(Oops|ClassPointers)"
)


class _Archive(NamedTuple):
    """How the driver JVM about to launch uses its CDS archive."""

    flag: str  # the JVM option: use ``final``, or dump to ``tmp`` at exit
    conf_dir: str  # the empty SPARK_CONF_DIR to launch with
    final: str
    tmp: str | None  # set when this JVM writes the archive


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "hiv_data_integration_spark")


def _archive_key(spark_home: str) -> str | None:
    """Hash of the JDK spark-submit runs (real ``java.home`` and its
    ``release`` file) and of the classpath (the names, sizes and mtimes of
    the Spark jars), so an upgrade of either gets a new archive."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    java_home = os.path.realpath(java_home)
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    digest = hashlib.sha256(f"{java_home}\0{jars}\0".encode())
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            digest.update(f.read())
        for entry in sorted(os.scandir(jars), key=lambda e: e.name):
            st = entry.stat()
            digest.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return digest.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _plan_archive() -> _Archive | None:
    """The CDS plan for a driver JVM this process is about to launch, or
    None when the archive must stay out of it.

    JDK 17 neither writes nor maps a dynamic archive while a non-empty
    directory is on the classpath, and spark-submit puts the conf
    directory first on it. So the JVM launches with an empty
    ``SPARK_CONF_DIR``, and only when the effective conf directory holds
    nothing but ``*.template`` files: swapping it then loses no conf.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no JVM is launched here
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    with contextlib.suppress(FileNotFoundError):
        if any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
    key = _archive_key(spark_home)
    if key is None:
        return None
    cache = _cache_dir()
    empty = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
        # temp files whose writer died are torn or unowned: never promote
        for name in os.listdir(cache):
            m = _TMP_ARCHIVE.fullmatch(name)
            if m and not _pid_alive(int(m.group(1))):
                os.remove(os.path.join(cache, name))
    except OSError:
        return None
    final = os.path.join(cache, f"driver-{key}.jsa")
    if os.path.isfile(final):
        return _Archive(f"-XX:SharedArchiveFile={final}", empty, final, None)
    tmp = f"{final}.{os.getpid()}.tmp"
    return _Archive(f"-XX:ArchiveClassesAtExit={tmp}", empty, final, tmp)


def _archive_maps(
    java: str, classpath: str, archive: str, jvm_args: tuple[str, ...] = ()
) -> bool:
    """Whether a fresh JVM given ``jvm_args`` (the dumping JVM's oops-mode
    options) maps ``archive`` with ``-Xshare:on`` on ``classpath``; a torn
    one crashes it, leaving no hs_err or core file."""
    return subprocess.run(
        [java, *jvm_args, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
         "-cp", classpath, "-XX:ErrorFile=/dev/null",
         "-XX:-CreateCoredumpOnCrash", "-version"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
    ).returncode == 0


def _promote_archive(
    proc, tmp: str, final: str, java: str, classpath: str, jvm_args: tuple[str, ...]
) -> None:
    """At interpreter exit: let the driver JVM exit (it writes ``tmp`` as
    it goes), then move ``tmp`` to ``final`` only if the JVM exited with 0
    AND a fresh JVM maps it. A torn archive under the final name kills
    every later JVM with SIGBUS while it maps, so the final name only ever
    holds a complete one."""
    try:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF
        ok = proc.wait(timeout=600) == 0 and _archive_maps(
            java, classpath, tmp, jvm_args
        )
    except (OSError, subprocess.SubprocessError):
        ok = False
    with contextlib.suppress(OSError):
        if ok:
            os.replace(tmp, final)
        else:
            os.remove(tmp)


def get_spark(
    app_name: str = "hiv-data-integration-spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession with scale-ready defaults."""
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    # Python workers must be able to import this package: cloudpickle
    # serializes module-level helpers referenced from mapInPandas /
    # pandas_udf closures BY REFERENCE, so the worker interpreter needs the
    # repo root on ITS path even when only the driver did sys.path surgery.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet scans answer MIN/MAX/COUNT from footer statistics
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # let custom Python data sources (pyspark.sql.datasource) consume
        # pushed filters at the source; readers stay conf-adaptive so
        # sessions without this flag (e.g. the driver's) still work
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # the report pipelines project 154-236 contract columns plus one
        # boolean per rule, then one __color column per ruled cell — far
        # past the default maxFields=100, which silently drops the ENTIRE
        # wide path out of whole-stage codegen (measured: 0
        # WholeStageCodegen spans, every rule interpreted). 600 covers PEC
        # (238 + 175 rule fields, then 238 + 190 + 1) with headroom;
        # Spark still splits oversized generated methods and falls back
        # per-stage via hugeMethodLimit if Janino ever balks.
        .config("spark.sql.codegen.maxFields", "600")
        # driver-side niceties for a test/bench session
        .config("spark.ui.enabled", "false")
        # single-JVM local mode: the driver heap IS the executor heap. 8g
        # measured FASTER than 24g on the md5-heavy dedup queries (A/B at
        # sf0.1: minhash 2.3 vs 3.7 s, ngram 2.1 vs 3.6 s — big-heap G1
        # regions hurt more than the extra headroom helps). Forced GC
        # between bench queries was ALSO tried and rejected (see bench.py
        # / BASELINE.md): ContextCleaner's post-GC async cleanup overlaps
        # the next timed query.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    archive = _plan_archive()
    if archive is None:
        spark = builder.getOrCreate()
    else:
        # defaultJavaOptions, so a caller's extraJavaOptions still apply;
        # the JVM logs to stdout, and a dump logs a line per skipped class
        options = " ".join(
            filter(None, [extra_conf.get(_JAVA_OPTIONS), "-Xlog:cds*=off", archive.flag])
        )
        builder = builder.config(_JAVA_OPTIONS, options)
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = conf_dir
        if archive.tmp is not None:
            jvm = spark.sparkContext._jvm
            system = jvm.java.lang.System
            java = os.path.join(system.getProperty("java.home"), "bin", "java")
            args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean(
            ).getInputArguments()
            atexit.register(
                _promote_archive, SparkContext._gateway.proc, archive.tmp,
                archive.final, java, system.getProperty("java.class.path"),
                tuple(a for a in args if _OOPS_MODE.fullmatch(a)),
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark
