"""Cold start: the driver JVM's class-data-sharing (CDS) archive.

Each case launches a fresh driver JVM in a subprocess whose ``HOME`` and
``XDG_CACHE_HOME`` point at a temp directory, so the archive it finds,
writes or ignores is the test's own. A session must start in every case.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from pyspark.find_spark_home import _find_spark_home

from hiv_data_integration_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv[1] is "keep" or "tear": "tear" lets the JVM exit (writing its
# archive) and then cuts the written archive to 1 MiB, the torn shape that
# kills a JVM mapping it with SIGBUS. argv[2] is get_spark's extra_conf,
# as JSON.
CHILD = textwrap.dedent(
    f"""
    import json, os, sys
    sys.path.insert(0, {ROOT!r})
    from pyspark import SparkContext
    from hiv_data_integration_spark import session

    conf_dir = os.environ.get("SPARK_CONF_DIR")
    spark = session.get_spark(
        master="local[1]", shuffle_partitions=1, extra_conf=json.loads(sys.argv[2])
    )
    assert spark.range(10).count() == 10
    jvm = spark.sparkContext._jvm
    cache = session._cache_dir()
    report = {{
        "args": list(jvm.java.lang.management.ManagementFactory
                     .getRuntimeMXBean().getInputArguments()),
        "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
        "marker": spark.conf.get("spark.hiv.test.marker", None),
        "java": os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
        "classpath": jvm.System.getProperty("java.class.path"),
        "cache_while_running": sorted(os.listdir(cache)) if os.path.isdir(cache) else [],
    }}
    if sys.argv[1] == "tear":
        proc = SparkContext._gateway.proc
        proc.stdin.close()
        report["jvm_exit"] = proc.wait(timeout=600)
        [tmp] = [n for n in os.listdir(cache) if n.endswith(".tmp")]
        with open(os.path.join(cache, tmp), "r+b") as f:
            f.truncate(1 << 20)
    print(json.dumps(report))
    """
)


def _run(home, action="keep", conf_dir=None, driver_mem=None, extra_conf=None):
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR")
    }
    env.update(HOME=str(home), XDG_CACHE_HOME=str(home / "cache"))
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    if driver_mem is not None:
        env["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    out = subprocess.run(
        [sys.executable, "-c", CHILD, action, json.dumps(extra_conf or {})],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["conf_dir_kept"]
    return report


def _cache(home):
    return home / "cache" / "hiv_data_integration_spark"


def _key():
    return session._archive_key(_find_spark_home())


@pytest.fixture(scope="module")
def cold(tmp_path_factory):
    """One run with no archive: (its home, its report)."""
    base = tmp_path_factory.mktemp("cds")
    home = base / "cold"
    home.mkdir()
    yield home, _run(home)
    shutil.rmtree(base, ignore_errors=True)  # each archive is ~140 MB


def _home_with_archive(cold, name):
    home = cold[0].parent / name
    cache = _cache(home)
    cache.mkdir(parents=True)
    final = f"driver-{_key()}.jsa"
    os.link(_cache(cold[0]) / final, cache / final)
    return home, cache / final


def test_no_archive_writes_a_complete_one_after_the_jvm_exits(cold):
    home, report = cold
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in report["args"])
    assert not any(n.endswith(".jsa") for n in report["cache_while_running"])
    archive = _cache(home) / f"driver-{_key()}.jsa"
    assert sorted(os.listdir(_cache(home))) == [archive.name, "empty-conf"]
    assert session._archive_maps(report["java"], report["classpath"], str(archive))


def test_present_archive_is_mapped(cold):
    home, archive = _home_with_archive(cold, "present")
    report = _run(home)
    assert f"-XX:SharedArchiveFile={archive}" in report["args"]
    assert not any("ArchiveClassesAtExit" in a for a in report["args"])


def test_torn_archive_is_never_promoted(cold):
    home = cold[0].parent / "torn"
    cache = _cache(home)
    cache.mkdir(parents=True)
    final = cache / f"driver-{_key()}.jsa"
    # a torn archive left by a writer that died (its pid is gone)
    dead = subprocess.Popen(["true"])
    dead.wait()
    orphan = cache / f"{final.name}.{dead.pid}.tmp"
    with open(_cache(cold[0]) / final.name, "rb") as src:
        orphan.write_bytes(src.read(1 << 20))
    # and this run's own archive, cut after its JVM exited with status 0
    report = _run(home, action="tear")
    assert report["jvm_exit"] == 0
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in report["args"])
    assert os.listdir(cache) == ["empty-conf"]


def test_garbage_under_another_key_is_ignored(cold):
    home, archive = _home_with_archive(cold, "garbage")
    other = archive.parent / "driver-0123456789abcdef.jsa"
    other.write_bytes(os.urandom(1 << 20))
    report = _run(home)
    assert f"-XX:SharedArchiveFile={archive}" in report["args"]
    assert not any(str(other) in a for a in report["args"])
    assert other.stat().st_size == 1 << 20


def test_conf_directory_with_a_conf_file_is_left_alone(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.hiv.test.marker  reached\n")
    report = _run(tmp_path, conf_dir=conf)
    assert report["marker"] == "reached"
    assert not any("Archive" in a for a in report["args"])
    assert not _cache(tmp_path).exists()


def test_heap_of_32_gb_or_more_still_promotes_and_maps(tmp_path):
    """A heap of 32 GB or more turns compressed oops off, the archive
    records that mode, and -Xshare:on refuses an archive dumped in another
    mode: the promotion probe must run with the driver's heap. 40g is only
    reserved, not used."""
    try:
        _run(tmp_path, driver_mem="40g")
        archive = _cache(tmp_path) / f"driver-{_key()}.jsa"
        assert archive.is_file()
        # under -Xshare:on the driver JVM does not start unless it maps it
        report = _run(
            tmp_path, driver_mem="40g",
            extra_conf={"spark.driver.extraJavaOptions": "-Xshare:on"},
        )
        assert "-Xmx40g" in report["args"]
        assert f"-XX:SharedArchiveFile={archive}" in report["args"]
    finally:
        shutil.rmtree(_cache(tmp_path), ignore_errors=True)  # ~160 MB
