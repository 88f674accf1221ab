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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle parallelism default: matched to local core count for tests; a real
# cluster deployment overrides this (or relies on AQE coalescing from a
# higher initial value).
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
