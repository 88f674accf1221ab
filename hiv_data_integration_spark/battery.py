"""Driver-facing query battery: one named query per implemented operator
(SURVEY.md §2) plus its DuckDB oracle SQL.

Float determinism convention: any floating-point aggregate is accumulated
EXACTLY as a decimal (``CAST(x AS DECIMAL(p,s))`` on both engines) and the
final result cast back to DOUBLE — double summation order differs between
Spark partitions and DuckDB, decimal summation does not. Per-row double
arithmetic (products, differences) is bit-deterministic and needs no guard.

Every computed column is aliased identically in the Spark code and the SQL
(the driver's comparator hashes values under sorted column names).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from hiv_data_integration_spark.functions import (
    dict_lookup,
    idsite_from_path,
    lenient_double,
    path_segment,
    period_to_date,
    round_to_long,
)
from hiv_data_integration_spark.operators import aggregate as agg_ops
from hiv_data_integration_spark.operators import relational as rel
from hiv_data_integration_spark.operators import reshape
from hiv_data_integration_spark.operators.rules import Rule, split_by_consistency

QueryFn = Callable[[SparkSession, str], DataFrame]
# one battery entry: (name, query, DuckDB oracle SQL with the same columns)
Entry = tuple[str, QueryFn, str]

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table, dispatching ``events.ts`` on its ACTUAL type.

    The testdata generator has shipped ``events.ts`` with two different
    parquet physical types across rounds: int64 nanoseconds (only readable
    via ``spark.sql.legacy.parquet.nanosAsLong``, then truncated to µs with
    integer division — the same truncation DuckDB applies) and plain
    ``timestamp[us]`` (reads natively as TIMESTAMP_NTZ, no conversion
    needed). We inspect the schema Spark infers and convert ONLY when the
    column actually reads as a long. No session conf is mutated here:
    timezone determinism is the session factory's contract
    (``session.get_spark`` pins UTC), and TIMESTAMP_NTZ bucketing is
    timezone-independent anyway, so a hostile driver session cannot shift
    day boundaries on the events queries.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    try:
        df = spark.read.parquet(path)
    except Exception:
        # Legacy int64-nanos physical type: schema inference rejects it
        # ("Illegal Parquet type") unless the legacy conf is on. Only this
        # fallback branch touches session conf, and only for data that is
        # unreadable without it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # nanos -> µs -> TIMESTAMP_NTZ via interval arithmetic on the NTZ
        # epoch literal: session-timezone-INDEPENDENT, unlike
        # timestamp_micros (which lands on LTZ and would render through
        # whatever timezone a hostile driver session carries). Both
        # physical types therefore converge on the same NTZ wall-clock
        # the DuckDB oracle sees.
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    return df


def read_events_stream(
    spark: SparkSession,
    load_path: str,
    probe_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over events parquet with ``ts`` normalized to a
    timestamp, whatever the file's physical type — in an ISOLATED
    UTC-pinned session.

    File stream sources require an explicit schema; instead of hard-coding
    one (which breaks when the testdata generator changes the physical type
    of ``ts`` — see ``tbl``), we probe the actual footer schema with a batch
    read of ``probe_path`` and convert int64-nanos to µs timestamps only
    when that is what the file really stores.

    Timezone-proofing: watermarks require TIMESTAMP (LTZ) —
    ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`` on NTZ — and every NTZ→LTZ
    cast, window bucket boundary, and collect-time rendering of an LTZ
    value goes through the session timezone. Under a hostile driver
    session (e.g. a fractional offset like +05:30) 1-hour window
    boundaries and rendered window starts would shift vs the naive
    oracle. So the stream is built on ``spark.newSession()`` — same
    SparkContext, INDEPENDENT SQLConf — pinned to UTC. The shared driver
    session is never mutated (the round-2 invariant), and the returned
    DataFrame belongs to the UTC session, so downstream sinks and
    collects render the naive-UTC wall-clock the oracle computes.
    Callers must route memory-sink lookups through
    ``df.sparkSession``, not the session they were handed.

    The isolated UTC session is memoized per SparkContext (its pinned
    conf is identical on every call, and temp views / checkpoints are
    per-query named, so sharing is safe); the footer-schema probe is
    memoized per ``probe_path`` (a parquet file's physical schema does
    not change within a process — re-create the session to re-probe).
    Before the memo, each of the 9 streaming battery entries paid a
    fresh SQLConf + a footer-read Spark job per invocation.
    """
    sc = spark.sparkContext
    cached = _STREAM_SESSION_CACHE.get("session")
    if cached is not None and cached[0] is sc:
        s = cached[1]
    else:
        s = _new_utc_stream_session(spark)
        _STREAM_SESSION_CACHE["session"] = (sc, s)
        _STREAM_SESSION_CACHE.pop("schemas", None)
    schemas = _STREAM_SESSION_CACHE.setdefault("schemas", {})
    raw_schema = schemas.get(probe_path)
    if raw_schema is None:
        try:
            raw_schema = s.read.parquet(probe_path).schema
        except Exception:
            # legacy int64-nanos footer: conf lands on the isolated
            # session only
            s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            raw_schema = s.read.parquet(probe_path).schema
        schemas[probe_path] = raw_schema
    reader = s.readStream.format("parquet").schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(load_path)
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(raw_schema["ts"].dataType, T.TimestampNTZType):
        # NTZ -> LTZ under the pinned-UTC session: epoch == wall-clock, so
        # window starts equal the oracle's date_trunc on the naive value.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


_STREAM_SESSION_CACHE: dict = {}


def _new_utc_stream_session(spark: SparkSession) -> SparkSession:
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    # stateful operators create one state-store instance PER shuffle
    # partition per micro-batch: at test scale 32 stores are pure startup
    # overhead (measured ~0.3-0.5 s/query); 8 keeps the windowed state
    # distributed while the availableNow batches stay dominated by work,
    # not store init. Values are partitioning-independent. A real
    # deployment sizes this to its state volume, not our test default.
    s.conf.set("spark.sql.shuffle.partitions", "8")
    # availableNow one-shots: synchronously run maintenance and CLOSE each
    # state-store instance at task commit (Spark 4's unloadOnCommit).
    # Without it every stateful battery query leaves its 8+ provider
    # instances loaded in the executor cache after the query stops, and
    # their background maintenance threads keep churning against deleted
    # checkpoint dirs for the rest of the session — measured as the
    # "battery-context slowdown" on every query that RUNS AFTER the
    # streaming block. Long-lived production streams want the default
    # (false) so providers stay warm across micro-batches.
    s.conf.set("spark.sql.streaming.stateStore.unloadOnCommit", "true")
    # availableNow one-shots again: after the last data batch the engine
    # appends a TRAILING NO-DATA micro-batch whenever a stateful operator
    # wants a watermark-driven eviction/flush pass. For every battery
    # stream whose result does not depend on that flush — complete-mode
    # sinks (each batch re-emits the full state), update-mode sinks with
    # no timeout state, and inner stream-stream joins (matches emit as
    # they form; the trailing pass only evicts state the query is about
    # to throw away) — that batch is a full planning + state-commit cycle
    # (~0.5-1.0 s measured at sf0.1) that emits ZERO rows. Queries that
    # DO flush results on watermark expiry (append-mode aggregations and
    # outer joins: streaming_outer_join_expiry, streaming_chained_windows)
    # re-enable it around their own .start(); see _trailing_flush_batch.
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return s


def driver_hashable_violations(schema: T.StructType) -> list[str]:
    """Columns whose type the driver's correctness harness cannot hash.

    The driver canonicalizes result frames in pandas (``sort_values`` →
    ``factorize``); Python lists/dicts are unhashable, so any
    ``ArrayType``/``MapType`` output column makes the official check ERROR
    before comparing anything (round-4 reds ``user_event_sequences`` and
    ``embed_mean_pool``). Battery queries must scalarize arrays first —
    ``concat_ws`` for element-exact strings, ``posexplode`` for
    per-position rows, or pos-weighted checksums (the
    ``corpus_shuffle_shards`` pattern). Returns offending ``name: type``
    strings; the driver-contract tests fail on any.
    """
    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType))
    ]


def dsum(col, scale: int = 2, prec: int = 18):
    """Deterministic double sum: exact decimal accumulation → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({prec},{scale})")).cast("double")


# ---------------------------------------------------------------------------
# Relational / aggregate core (SURVEY.md §2.3-2.8)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 grouped sums + P4 date predicate (TPC-H Q1 shape)."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection + P3 membership filter."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"))
    )


SQL_FILTER_MEMBERSHIP = """
SELECT l_returnflag, count(*) AS n_rows
FROM lineitem WHERE l_returnflag IN ('A', 'R')
GROUP BY l_returnflag
"""


def q_date_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 date-range predicate + monthly grouping (F4 date funcs)."""
    li = tbl(spark, sf_dir, "lineitem")
    d = F.to_date("l_shipdate")
    return (
        li.filter(d.between(F.lit("1996-01-01"), F.lit("1996-12-31")))
        .groupBy(F.trunc(d, "month").alias("ship_month"))
        .agg(F.count("*").alias("n_rows"), dsum("l_quantity").alias("sum_qty"))
    )


SQL_DATE_RANGE_FILTER = """
SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS ship_month,
       count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
GROUP BY 1
"""


def q_conditional_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 conditional expression (when/otherwise)."""
    li = tbl(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, F.lit("low"))
        .when(F.col("l_quantity") < 25, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return li.groupBy(bucket.alias("qty_bucket")).agg(
        F.count("*").alias("n_rows"), dsum("l_quantity").alias("sum_qty")
    )


SQL_CONDITIONAL_BUCKET = """
SELECT CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 25 THEN 'mid'
            ELSE 'high' END AS qty_bucket,
       count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY 1
"""


def q_join_fact_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 fact→dim broadcast left join."""
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    joined = rel.broadcast_join(
        li, part, F.col("l_partkey") == F.col("p_partkey"), "left"
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_rows"), F.sum(revenue).cast("double").alias("revenue")
    )


SQL_JOIN_FACT_DIM = """
SELECT p_brand, count(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_multi_hop_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 multi-hop dimension joins (customer→nation→region)."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    joined = rel.broadcast_join(
        rel.broadcast_join(c, n, F.col("c_nationkey") == F.col("n_nationkey"), "inner"),
        r,
        F.col("n_regionkey") == F.col("r_regionkey"),
        "inner",
    )
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        (dsum("c_acctbal") / F.count("*")).alias("avg_acctbal"),
    )


SQL_MULTI_HOP_JOIN = """
SELECT r_name, count(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 semi-join filter (reference's inner-join-on-keys idiom)."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    kept = rel.semi_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), orders, ["o_orderkey"]
    )
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"), dsum("l_quantity").alias("sum_qty")
    )


SQL_SEMI_JOIN = """
SELECT l_returnflag, count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
GROUP BY l_returnflag
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (engine extension of J5)."""
    c = tbl(spark, sf_dir, "customer")
    orders = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    return (
        rel.anti_join(c, orders, ["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_ANTI_JOIN = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
GROUP BY c_mktsegment
"""


def q_cross_join_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 cross-join replication (NAOMI period fan-out shape)."""
    r = tbl(spark, sf_dir, "region").select("r_name")
    suffixes = tbl(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return rel.cross_join_replicate(r, suffixes).withColumn(
        "label", F.concat_ws("_", F.col("r_name"), F.col("o_orderpriority"))
    )


SQL_CROSS_JOIN_REPLICATE = """
SELECT r_name, o_orderpriority, r_name || '_' || o_orderpriority AS label
FROM (SELECT r_name FROM region)
CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
"""


def q_union_relaxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union-by-name with missing-column padding (diagonal_relaxed)."""
    orders = tbl(spark, sf_dir, "orders")
    a = orders.select("o_orderkey", "o_totalprice")
    b = orders.select("o_orderkey", "o_orderstatus")
    u = rel.union_relaxed([a, b])
    return u.agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("n_price"),
        F.count("o_orderstatus").alias("n_status"),
    )


SQL_UNION_RELAXED = """
WITH u AS (
    SELECT o_orderkey, o_totalprice FROM orders
    UNION ALL BY NAME
    SELECT o_orderkey, o_orderstatus FROM orders
)
SELECT count(*) AS n_rows, count(o_totalprice) AS n_price,
       count(o_orderstatus) AS n_status
FROM u
"""


def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 distinct."""
    return tbl(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


SQL_DISTINCT_PAIRS = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q_pivot_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 pivot with sum, explicit value list (100 TB-safe: no distinct job)."""
    li = tbl(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    wide = agg_ops.pivot_agg(
        li, ["l_linestatus"], "l_returnflag", "qty_dec", values=["A", "N", "R"], agg="sum"
    )
    return wide.select(
        "l_linestatus",
        F.col("A").cast("double").alias("qty_A"),
        F.col("N").cast("double").alias("qty_N"),
        F.col("R").cast("double").alias("qty_R"),
    )


SQL_PIVOT_SUM = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_A,
       CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_N,
       CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_R
FROM lineitem GROUP BY l_linestatus
"""


def q_pivot_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 pivot with first-value semantics (deterministic min stand-in)."""
    orders = tbl(spark, sf_dir, "orders")
    wide = agg_ops.pivot_agg(
        orders,
        ["o_custkey"],
        "o_orderstatus",
        "o_totalprice",
        values=["F", "O", "P"],
        agg="min",
    )
    return wide.select(
        "o_custkey",
        F.col("F").alias("min_F"),
        F.col("O").alias("min_O"),
        F.col("P").alias("min_P"),
    )


SQL_PIVOT_MIN = """
SELECT o_custkey,
       min(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS min_F,
       min(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS min_O,
       min(CASE WHEN o_orderstatus='P' THEN o_totalprice END) AS min_P
FROM orders GROUP BY o_custkey
"""


def q_null_preserving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 null-preserving grouped sum: all-NULL group → NULL, not 0."""
    ev = tbl(spark, sf_dir, "events")
    masked = F.when(
        F.col("event_type") != "click", F.col("value").cast("decimal(28,6)")
    )
    prepared = ev.select("user_id", masked.alias("masked_value"))
    out = agg_ops.grouped_sum(prepared, ["user_id"], ["masked_value"])
    return out.select("user_id", F.col("masked_value").cast("double").alias("masked_value"))


SQL_NULL_PRESERVING_SUM = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type != 'click'
                     THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS masked_value
FROM events GROUP BY user_id
"""


def q_semester_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 calendar-bucket re-aggregation (semester)."""
    orders = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderdate"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )
    out = agg_ops.calendar_bucket_agg(
        orders, F.col("o_orderdate"), keys=[], value_cols=["price_dec"], bucket="semester"
    )
    return out.select("bucket", F.col("price_dec").cast("double").alias("total_price"))


SQL_SEMESTER_ROLLUP = """
SELECT CAST(year(o_orderdate) AS VARCHAR) || 'S' ||
       (CASE WHEN month(o_orderdate) <= 6 THEN '1' ELSE '2' END) AS bucket,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY 1
"""


def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 sort + top-k (TakeOrderedAndProject — no global sort shuffle)."""
    orders = tbl(spark, sf_dir, "orders")
    totals = orders.groupBy("o_custkey").agg(dsum("o_totalprice").alias("total_spent"))
    return rel.topk(totals, [F.col("total_spent").desc(), F.col("o_custkey")], 10)


SQL_TOPK_CUSTOMERS = """
SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
FROM orders GROUP BY o_custkey
ORDER BY total_spent DESC, o_custkey LIMIT 10
"""


# ---------------------------------------------------------------------------
# Window / time operators (§2.6, §2.13 extensions)
# ---------------------------------------------------------------------------


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function (engine extension; absent in reference)."""
    c = tbl(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_custkey", "c_nationkey", "rnk")
    )


SQL_WINDOW_RANK = """
SELECT c_custkey, c_nationkey, CAST(rnk AS INT) AS rnk FROM (
    SELECT c_custkey, c_nationkey,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rnk
    FROM customer)
WHERE rnk <= 3
"""


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag window function (engine extension)."""
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value").isNotNull())
        .select(
            "event_id", (F.col("value") - F.col("prev_value")).alias("value_delta")
        )
    )


SQL_WINDOW_LAG = """
SELECT event_id, value - prev_value AS value_delta FROM (
    SELECT event_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
    FROM events)
WHERE prev_value IS NOT NULL
"""


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch form of §2.13)."""
    ev = tbl(spark, sf_dir, "events")
    out = agg_ops.tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        ],
    )
    return out.select("event_type", "window_start", "n_events", "sum_value")


SQL_TUMBLING_WINDOW = """
SELECT event_type, date_trunc('hour', ts) AS window_start,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (engine extension)."""
    ev = tbl(spark, sf_dir, "events")
    sessions = agg_ops.sessionize(ev, "user_id", "ts", gap_minutes=30)
    return sessions.groupBy("user_id").agg(
        F.max("session_seq").cast("long").alias("n_sessions")
    )


SQL_SESSIONIZE = """
WITH gaps AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
FROM gaps GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Rule engine (§2.12)
# ---------------------------------------------------------------------------

_LINEITEM_RULES = {
    "returned_exceeds_open": Rule("D>E", "FF0000", 2),
    "qty_below_flag_total": Rule("G<D+E+F", "FFA500", 1),
    "flag_imbalance": Rule("D!=E", "FFFF00", 3),
}


def _rules_wide_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.when(F.col("l_returnflag") == "A", 1)).alias("cnt_a"),
        F.count(F.when(F.col("l_returnflag") == "N", 1)).alias("cnt_n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("cnt_r"),
        dsum("l_quantity").alias("qty_tot"),
    )


def q_rules_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 consistency-rule compiler: formulas over Excel letters compiled
    to native SQL predicates (vs the reference's per-row eval)."""
    wide = _rules_wide_frame(spark, sf_dir)
    # column order: l_orderkey→C, cnt_a→D, cnt_n→E, cnt_r→F, qty_tot→G
    from hiv_data_integration_spark.operators.rules import apply_rules

    return apply_rules(wide, _LINEITEM_RULES, key_cols=["l_orderkey"]).select(
        "l_orderkey",
        "cnt_a__color",
        "cnt_n__color",
        "cnt_r__color",
        "qty_tot__color",
        "is_consistent",
    )


SQL_RULES_ENGINE = """
WITH wide AS (
    SELECT l_orderkey,
           count(CASE WHEN l_returnflag='A' THEN 1 END) AS cnt_a,
           count(CASE WHEN l_returnflag='N' THEN 1 END) AS cnt_n,
           count(CASE WHEN l_returnflag='R' THEN 1 END) AS cnt_r,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_tot
    FROM lineitem GROUP BY l_orderkey
), fired AS (
    SELECT *,
           (CAST(cnt_a AS DOUBLE) > CAST(cnt_n AS DOUBLE)) AS f_red,
           (qty_tot < CAST(cnt_a AS DOUBLE) + CAST(cnt_n AS DOUBLE) + CAST(cnt_r AS DOUBLE)) AS f_orange,
           (CAST(cnt_a AS DOUBLE) != CAST(cnt_n AS DOUBLE)) AS f_yellow
    FROM wide
)
SELECT l_orderkey,
       CASE WHEN f_yellow THEN 'FFFF00' WHEN f_red THEN 'FF0000'
            WHEN f_orange THEN 'FFA500' END AS cnt_a__color,
       CASE WHEN f_yellow THEN 'FFFF00' WHEN f_red THEN 'FF0000'
            WHEN f_orange THEN 'FFA500' END AS cnt_n__color,
       CASE WHEN f_orange THEN 'FFA500' END AS cnt_r__color,
       CASE WHEN f_orange THEN 'FFA500' END AS qty_tot__color,
       NOT (f_yellow OR f_red OR f_orange) AS is_consistent
FROM fired
"""


def q_rules_consistent_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 routing: keep only all-clear rows (exclude_inconsistent=True)."""
    wide = _rules_wide_frame(spark, sf_dir)
    consistent, _flagged = split_by_consistency(
        wide, _LINEITEM_RULES, key_cols=["l_orderkey"]
    )
    return consistent


SQL_RULES_CONSISTENT_ONLY = """
WITH wide AS (
    SELECT l_orderkey,
           count(CASE WHEN l_returnflag='A' THEN 1 END) AS cnt_a,
           count(CASE WHEN l_returnflag='N' THEN 1 END) AS cnt_n,
           count(CASE WHEN l_returnflag='R' THEN 1 END) AS cnt_r,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_tot
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey, cnt_a, cnt_n, cnt_r, qty_tot FROM wide
WHERE NOT ((CAST(cnt_a AS DOUBLE) > CAST(cnt_n AS DOUBLE))
        OR (qty_tot < CAST(cnt_a AS DOUBLE) + CAST(cnt_n AS DOUBLE) + CAST(cnt_r AS DOUBLE))
        OR (CAST(cnt_a AS DOUBLE) != CAST(cnt_n AS DOUBLE)))
"""


def q_rules_inconsistent_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 routing with the R2 flag INVERTED (``exclude_inconsistent=
    False`` — R2's ``include_inconsistent_data=True`` keeps flagged rows in
    the data output while STILL routing them to the review sink,
    R2/utils.py:821-830). Both branches union into one result tagged by
    ``branch``: the hash pins that 'data' carries EVERY row (inconsistent
    included) and 'review' carries exactly the flagged rows with their
    per-cell colors ('-' for clear cells)."""
    wide = _rules_wide_frame(spark, sf_dir)
    consistent, flagged = split_by_consistency(
        wide, _LINEITEM_RULES, key_cols=["l_orderkey"],
        exclude_inconsistent=False,
    )
    base = ["l_orderkey", "cnt_a", "cnt_n", "cnt_r", "qty_tot"]
    data = consistent.select(
        F.lit("data").alias("branch"), *base,
        F.lit(None).cast("string").alias("colors"),
    )
    review = flagged.select(
        F.lit("review").alias("branch"), *base,
        F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(f"{c}__color"), F.lit("-"))
                for c in ("cnt_a", "cnt_n", "cnt_r", "qty_tot")
            ],
        ).alias("colors"),
    )
    return data.unionByName(review)


SQL_RULES_INCONSISTENT_ROUTING = """
WITH wide AS (
    SELECT l_orderkey,
           count(CASE WHEN l_returnflag='A' THEN 1 END) AS cnt_a,
           count(CASE WHEN l_returnflag='N' THEN 1 END) AS cnt_n,
           count(CASE WHEN l_returnflag='R' THEN 1 END) AS cnt_r,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_tot
    FROM lineitem GROUP BY l_orderkey
), fired AS (
    SELECT *,
           (CAST(cnt_a AS DOUBLE) > CAST(cnt_n AS DOUBLE)) AS f_red,
           (qty_tot < CAST(cnt_a AS DOUBLE) + CAST(cnt_n AS DOUBLE) + CAST(cnt_r AS DOUBLE)) AS f_orange,
           (CAST(cnt_a AS DOUBLE) != CAST(cnt_n AS DOUBLE)) AS f_yellow
    FROM wide
), colored AS (
    SELECT *,
           CASE WHEN f_yellow THEN 'FFFF00' WHEN f_red THEN 'FF0000'
                WHEN f_orange THEN 'FFA500' END AS ca,
           CASE WHEN f_yellow THEN 'FFFF00' WHEN f_red THEN 'FF0000'
                WHEN f_orange THEN 'FFA500' END AS cn,
           CASE WHEN f_orange THEN 'FFA500' END AS cr,
           CASE WHEN f_orange THEN 'FFA500' END AS cq
    FROM fired
)
SELECT 'data' AS branch, l_orderkey, cnt_a, cnt_n, cnt_r, qty_tot,
       CAST(NULL AS VARCHAR) AS colors
FROM colored
UNION ALL
SELECT 'review' AS branch, l_orderkey, cnt_a, cnt_n, cnt_r, qty_tot,
       concat_ws('|', coalesce(ca, '-'), coalesce(cn, '-'),
                 coalesce(cr, '-'), coalesce(cq, '-')) AS colors
FROM colored WHERE f_yellow OR f_red OR f_orange
"""


# ---------------------------------------------------------------------------
# Reshape + scalar functions (§2.9-2.10)
# ---------------------------------------------------------------------------


def q_stack_wide_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1op wide→long stack by prefix (transform_for_pnls_reporting shape)."""
    orders = tbl(spark, sf_dir, "orders")
    wide = agg_ops.pivot_agg(
        orders, ["o_custkey"], "o_orderstatus", "o_orderkey",
        values=["F", "O", "P"], agg="min",
    ).select(
        "o_custkey",
        F.col("F").alias("st_F_min"),
        F.col("O").alias("st_O_min"),
        F.col("P").alias("st_P_min"),
    )
    long = reshape.stack_by_prefix(
        wide,
        key_cols=["o_custkey"],
        prefix_to_indicator={"st_F": 1, "st_O": 2, "st_P": 3},
        name_standardizer=lambda c: "min_orderkey",
    )
    return long.select("o_custkey", "indicateur", "min_orderkey")


SQL_STACK_WIDE_TO_LONG = """
WITH wide AS (
    SELECT o_custkey,
           min(CASE WHEN o_orderstatus='F' THEN o_orderkey END) AS st_f,
           min(CASE WHEN o_orderstatus='O' THEN o_orderkey END) AS st_o,
           min(CASE WHEN o_orderstatus='P' THEN o_orderkey END) AS st_p
    FROM orders GROUP BY o_custkey
)
SELECT o_custkey, 1 AS indicateur, st_f AS min_orderkey FROM wide
UNION ALL
SELECT o_custkey, 2 AS indicateur, st_o AS min_orderkey FROM wide
UNION ALL
SELECT o_custkey, 3 AS indicateur, st_p AS min_orderkey FROM wide
"""


def q_pad_to_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3op schema padding to a declared contract."""
    from pyspark.sql import types as T

    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    contract = [
        ("o_orderkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("review_color", T.StringType()),
        ("adjusted_price", T.DoubleType()),
    ]
    return reshape.pad_to_contract(orders, contract)


SQL_PAD_TO_CONTRACT = """
SELECT o_orderkey, o_orderstatus,
       CAST(NULL AS VARCHAR) AS review_color,
       CAST(NULL AS DOUBLE) AS adjusted_price
FROM orders
"""


def q_string_path_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3: regex/literal replace, split + positional segment, idsite."""
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    joined = rel.broadcast_join(
        n, r, F.col("n_regionkey") == F.col("r_regionkey"), "inner"
    ).withColumn(
        "path", F.concat(F.lit("/ROOT/"), F.col("r_name"), F.lit("/"), F.col("n_name"))
    )
    return joined.select(
        "n_name",
        idsite_from_path(F.col("path"), "ROOT").alias("idsite"),
        path_segment(F.col("path"), 1).alias("region_segment"),
    )


SQL_STRING_PATH_OPS = """
SELECT n_name,
       replace(replace('/ROOT/' || r_name || '/' || n_name, '/', '_'), '_ROOT_', '') AS idsite,
       string_split('/ROOT/' || r_name || '/' || n_name, '/')[3] AS region_segment
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q_period_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 period parse/format: YYYYMM string ↔ month-start date."""
    orders = tbl(spark, sf_dir, "orders")
    period = F.date_format("o_orderdate", "yyyyMM")
    out = orders.select(period.alias("period")).groupBy("period").agg(
        F.count("*").alias("n_orders")
    )
    return out.select(
        "period", period_to_date(F.col("period")).alias("periode"), "n_orders"
    )


SQL_PERIOD_ROUNDTRIP = """
SELECT strftime(o_orderdate, '%Y%m') AS period,
       CAST(strptime(strftime(o_orderdate, '%Y%m'), '%Y%m') AS DATE) AS periode,
       count(*) AS n_orders
FROM orders GROUP BY 1, 2
"""


def q_lenient_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 lenient numeric parse (quotes/blanks → value or 0)."""
    li = tbl(spark, sf_dir, "lineitem")
    dirty = (
        F.when(
            F.col("l_linenumber") % 3 == 0,
            F.concat(F.lit('"'), F.col("l_linenumber").cast("string"), F.lit('"')),
        )
        .when(F.col("l_linenumber") % 3 == 1, F.lit(""))
        .otherwise(F.col("l_linenumber").cast("string"))
    )
    parsed = lenient_double(dirty)
    return li.groupBy("l_returnflag").agg(
        F.sum(parsed.cast("decimal(18,1)")).cast("double").alias("parsed_total")
    )


SQL_LENIENT_PARSE = """
WITH dirty AS (
    SELECT l_returnflag,
           CASE WHEN l_linenumber % 3 = 0 THEN '"' || CAST(l_linenumber AS VARCHAR) || '"'
                WHEN l_linenumber % 3 = 1 THEN ''
                ELSE CAST(l_linenumber AS VARCHAR) END AS raw
    FROM lineitem
)
SELECT l_returnflag,
       CAST(SUM(CAST(COALESCE(TRY_CAST(NULLIF(TRIM(regexp_replace(raw, '["'']', '', 'g')), '') AS DOUBLE), 0.0)
                     AS DECIMAL(18,1))) AS DOUBLE) AS parsed_total
FROM dirty GROUP BY l_returnflag
"""


def q_dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2 constant-dictionary lookup as a literal map (no UDF)."""
    orders = tbl(spark, sf_dir, "orders")
    mapping = {"1-URGENT": "P1", "2-HIGH": "P2", "3-MEDIUM": "P3"}
    looked = dict_lookup(F.col("o_orderpriority"), mapping, default=F.lit("other"))
    return orders.groupBy(looked.alias("priority_class")).agg(
        F.count("*").alias("n_orders")
    )


SQL_DICT_LOOKUP = """
SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 'P1' WHEN '2-HIGH' THEN 'P2'
            WHEN '3-MEDIUM' THEN 'P3' ELSE 'other' END AS priority_class,
       count(*) AS n_orders
FROM orders GROUP BY 1
"""


def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7/D8 fuzzy entity match, native approximation: best Levenshtein
    candidate per query (cross-join a broadcast candidate list + window)."""
    n = tbl(spark, sf_dir, "nation")
    queries = n.select(F.substring("n_name", 2, 100).alias("qname")).distinct()
    cands = n.select("n_name")
    scored = queries.crossJoin(F.broadcast(cands)).withColumn(
        "dist", F.levenshtein("qname", "n_name").cast("long")
    )
    w = Window.partitionBy("qname").orderBy("dist", "n_name")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qname", F.col("n_name").alias("best_match"), "dist")
    )


SQL_FUZZY_LEVENSHTEIN = """
WITH q AS (SELECT DISTINCT substring(n_name, 2) AS qname FROM nation),
scored AS (
    SELECT q.qname, n.n_name, CAST(levenshtein(q.qname, n.n_name) AS BIGINT) AS dist
    FROM q CROSS JOIN nation n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY qname ORDER BY dist, n_name) AS rn
    FROM scored
)
SELECT qname, n_name AS best_match, dist FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Flagship: the reference's core pipeline shape on TPC-H stand-ins
# (scan → broadcast dims → name synthesis → pivot → re-sum → stack → sort)
# ---------------------------------------------------------------------------

_FLAGSHIP_PIVOT_VALUES = [
    "ind_A_F", "ind_A_O", "ind_N_F", "ind_N_O", "ind_R_F", "ind_R_O",
]


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M0 flagship (SURVEY.md §7.5): the spine every reference extract
    repeats — fact scan, broadcast dim joins, derived column-name synthesis
    (F6), explicit-values pivot (A3/A4), grouped null-preserving re-sum
    (A1), wide→long stack (R1op), final rounding (F5) and sort (O1)."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")

    fact = (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "inner",
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "inner",
        )
        .withColumn("period", F.date_format("o_orderdate", "yyyyMM"))
        .withColumn(
            "column_name",
            F.concat_ws("_", F.lit("ind"), F.col("l_returnflag"), F.col("l_linestatus")),
        )
        .withColumn("qty_dec", F.col("l_quantity").cast("decimal(18,2)"))
    )

    wide = agg_ops.pivot_agg(
        fact,
        ["n_name", "period", "o_orderpriority"],
        "column_name",
        "qty_dec",
        values=_FLAGSHIP_PIVOT_VALUES,
        agg="sum",
    )
    resummed = agg_ops.grouped_sum(
        wide.drop("o_orderpriority"), ["n_name", "period"]
    )
    long = reshape.stack_by_prefix(
        resummed,
        key_cols=["n_name", "period"],
        prefix_to_indicator={"ind_A": 1, "ind_N": 2, "ind_R": 3},
        name_standardizer=lambda c: f"qty_{c.rsplit('_', 1)[-1]}",
    )
    return long.select(
        "n_name",
        "period",
        "indicateur",
        round_to_long(F.col("qty_F").cast("double")).alias("qty_F"),
        round_to_long(F.col("qty_O").cast("double")).alias("qty_O"),
    ).orderBy("n_name", "period", "indicateur")


SQL_FLAGSHIP = """
WITH fact AS (
    SELECT n_name, strftime(o_orderdate, '%Y%m') AS period,
           l_returnflag AS rf, l_linestatus AS ls,
           CAST(l_quantity AS DECIMAL(18,2)) AS qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
), agg AS (
    SELECT n_name, period,
           SUM(CASE WHEN rf='A' AND ls='F' THEN qty END) AS a_f,
           SUM(CASE WHEN rf='A' AND ls='O' THEN qty END) AS a_o,
           SUM(CASE WHEN rf='N' AND ls='F' THEN qty END) AS n_f,
           SUM(CASE WHEN rf='N' AND ls='O' THEN qty END) AS n_o,
           SUM(CASE WHEN rf='R' AND ls='F' THEN qty END) AS r_f,
           SUM(CASE WHEN rf='R' AND ls='O' THEN qty END) AS r_o
    FROM fact GROUP BY n_name, period
)
SELECT n_name, period, 1 AS indicateur,
       CAST(ROUND(CAST(a_f AS DOUBLE), 0) AS BIGINT) AS qty_F,
       CAST(ROUND(CAST(a_o AS DOUBLE), 0) AS BIGINT) AS qty_O
FROM agg
UNION ALL
SELECT n_name, period, 2, CAST(ROUND(CAST(n_f AS DOUBLE), 0) AS BIGINT),
       CAST(ROUND(CAST(n_o AS DOUBLE), 0) AS BIGINT) FROM agg
UNION ALL
SELECT n_name, period, 3, CAST(ROUND(CAST(r_f AS DOUBLE), 0) AS BIGINT),
       CAST(ROUND(CAST(r_o AS DOUBLE), 0) AS BIGINT) FROM agg
"""


# ---------------------------------------------------------------------------
# Registry: one row per entry; __spark_entry__ merges the battery tables
# ---------------------------------------------------------------------------

ENTRIES: list[Entry] = [
    ("flagship_pnls_chain", q_flagship, SQL_FLAGSHIP),
    ("pricing_summary", q_pricing_summary, SQL_PRICING_SUMMARY),
    ("filter_membership", q_filter_membership, SQL_FILTER_MEMBERSHIP),
    ("date_range_filter", q_date_range_filter, SQL_DATE_RANGE_FILTER),
    ("conditional_bucket", q_conditional_bucket, SQL_CONDITIONAL_BUCKET),
    ("join_fact_dim", q_join_fact_dim, SQL_JOIN_FACT_DIM),
    ("multi_hop_join", q_multi_hop_join, SQL_MULTI_HOP_JOIN),
    ("semi_join_orders", q_semi_join, SQL_SEMI_JOIN),
    ("anti_join_customers", q_anti_join, SQL_ANTI_JOIN),
    ("cross_join_replicate", q_cross_join_replicate, SQL_CROSS_JOIN_REPLICATE),
    ("union_relaxed", q_union_relaxed, SQL_UNION_RELAXED),
    ("distinct_pairs", q_distinct_pairs, SQL_DISTINCT_PAIRS),
    ("pivot_sum_returnflag", q_pivot_sum, SQL_PIVOT_SUM),
    ("pivot_min_status", q_pivot_min, SQL_PIVOT_MIN),
    ("null_preserving_sum", q_null_preserving_sum, SQL_NULL_PRESERVING_SUM),
    ("semester_rollup", q_semester_rollup, SQL_SEMESTER_ROLLUP),
    ("topk_customers", q_topk_customers, SQL_TOPK_CUSTOMERS),
    ("window_rank_customers", q_window_rank, SQL_WINDOW_RANK),
    ("window_lag_events", q_window_lag, SQL_WINDOW_LAG),
    ("tumbling_window_events", q_tumbling_window, SQL_TUMBLING_WINDOW),
    ("sessionize_events", q_sessionize, SQL_SESSIONIZE),
    ("rules_engine_lineitem", q_rules_engine, SQL_RULES_ENGINE),
    ("rules_consistent_only", q_rules_consistent_only, SQL_RULES_CONSISTENT_ONLY),
    ("rules_inconsistent_routing",
     q_rules_inconsistent_routing, SQL_RULES_INCONSISTENT_ROUTING),
    ("stack_wide_to_long", q_stack_wide_to_long, SQL_STACK_WIDE_TO_LONG),
    ("pad_to_contract", q_pad_to_contract, SQL_PAD_TO_CONTRACT),
    ("string_path_ops", q_string_path_ops, SQL_STRING_PATH_OPS),
    ("period_roundtrip", q_period_roundtrip, SQL_PERIOD_ROUNDTRIP),
    ("lenient_numeric_parse", q_lenient_parse, SQL_LENIENT_PARSE),
    ("dict_lookup_priority", q_dict_lookup, SQL_DICT_LOOKUP),
    ("fuzzy_levenshtein_match", q_fuzzy_levenshtein, SQL_FUZZY_LEVENSHTEIN),
]
