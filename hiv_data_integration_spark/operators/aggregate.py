"""Aggregation operators: grouped sums, pivots, calendar buckets, windows.

Maps SURVEY.md §2.5 (A1-A7), §2.6/§2.13 (time windows — engine extensions)
onto Catalyst hash aggregation. All aggregations here are partial+final
(map-side combine) by construction; pivots take explicit value lists so the
plan is deterministic and never collects distinct pivot keys from 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "grouped_sum",
    "pivot_agg",
    "semester_bounds",
    "calendar_bucket_agg",
    "tumbling_window_agg",
    "sessionize",
    "funnel_conversion",
    "cohort_retention",
    "user_event_sequences",
    "trailing_window_features",
    "numeric_histogram",
    "completeness_profile",
    "gap_fill_locf",
    "countmin_build",
    "countmin_query",
    "bloom_build",
    "bloom_probe",
    "winsorized_stats",
    "robust_outliers",
    "event_transitions",
    "weighted_median",
    "rfm_features",
    "linear_attribution",
    "benford_profile",
    "rank_correlation",
    "sequence_pattern_match",
    "hll_merged_distinct",
    "grouped_ols",
    "contingency_profile",
    "conversion_latency_deciles",
    "cooccurrence_lift",
    "proportion_ci",
    "largest_remainder_allocation",
    "k_anonymity_audit",
    "l_diversity_audit",
    "gini_impurity_profile",
    "roc_auc_exact",
    "group_zscore_outliers",
    "kaplan_meier",
    "mann_kendall_trend",
    "cusum_change_detection",
    "theil_sen_slope",
    "abc_classification",
    "rolling_band_outliers",
    "top_session_paths",
    "cohort_ltv_curve",
    "seasonal_naive_backtest",
    "audience_overlap",
    "position_based_attribution",
    "debounce_events",
    "gap_fill_interpolate",
    "dataset_fingerprint",
    "ks_statistic",
    "distribution_drift_tv",
    "price_volume_decomposition",
    "lump_rare_categories",
    "share_of_parent",
    "value_band_clusters",
    "recency_weighted_popularity",
    "trimmed_mean",
    "split_conformal_width",
    "ma_crossover_signals",
    "correlation_rsq",
    "behavior_bitmask_segments",
    "max_concurrency",
    "xyz_classification",
    "interval_union_time",
    "trailing_distinct_users",
    "group_median_impute",
    "trailing_ema",
    "churn_labels",
    "loo_target_encoding",
    "ab_test_ztest",
    "sequence_bigram_support",
    "calibration_bins",
    "ntz_epoch_micros",
    "ohlc_downsample",
    "grouped_mode",
    "time_weighted_average",
    "segmented_running_total",
    "hll_registers",
    "hll_estimate",
]


def grouped_sum(
    df: DataFrame,
    keys: list[str],
    value_cols: list[str] | None = None,
    sort: bool = False,
) -> DataFrame:
    """Grouped null-preserving sum over value columns (A1/A2).

    The reference hand-builds ``when(is_not_null().any()).then(sum)``
    per column (update_pnls_report/extract_ist_data.py:143-154) because it
    wants SQL NULL semantics: ignore NULLs, but an all-NULL group yields
    NULL, not 0. Spark's ``F.sum`` already has exactly those semantics, so
    this compiles to a plain partial+final hash aggregate.
    """
    value_cols = value_cols or [c for c in df.columns if c not in keys]
    out = df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in value_cols])
    return out.orderBy(*keys) if sort else out


def pivot_agg(
    df: DataFrame,
    keys: list[str],
    pivot_col: str,
    value_col: str,
    values: list[str] | None = None,
    agg: str = "sum",
    max_inferred_values: int = 200,
) -> DataFrame:
    """Long→wide pivot (A3/A4).

    The reference pivots without an aggregate, relying on one value per
    cell (update_pnls_report/extract_ist_data.py:95-100); we use ``min`` for
    that case (equal to "first" under the uniqueness contract, but
    deterministic) and ``sum`` for the aggregating pivots
    (extract_consultant_data.py:74-79).

    Scale note: pass ``values`` explicitly (the reference's declared column
    contracts make this possible) — otherwise Spark runs an extra distinct
    job over the fact table and the output schema becomes data-dependent.
    The omitted-``values`` path is GUARDED, not merely discouraged: the
    operator probes the pivot column's cardinality (a ``distinct().
    limit(cap+1)`` job — strictly cheaper than the unbounded distinct
    Spark would run anyway for inference) and raises with a remedy when
    it exceeds ``max_inferred_values``, so a high-cardinality pivot at
    100 TB fails fast with the fix spelled out instead of melting the
    driver with a 100k-column schema (SURVEY §7.4.2 discipline,
    SCALE.md §8).
    """
    agg_col = {"sum": F.sum, "min": F.min, "max": F.max, "first": F.min}[agg](value_col)
    gp = df.groupBy(*keys)
    if values is None:
        n = df.select(pivot_col).distinct().limit(max_inferred_values + 1).count()
        if n > max_inferred_values:
            raise ValueError(
                f"pivot_agg: pivot column {pivot_col!r} has more than "
                f"{max_inferred_values} distinct values; an inferred pivot "
                "would make the output schema data-dependent and "
                "driver-sized. Pass the declared `values` list (the "
                "reference's column contracts provide one), or raise "
                "`max_inferred_values` explicitly if the width is "
                "genuinely intended."
            )
    pv = gp.pivot(pivot_col, values) if values is not None else gp.pivot(pivot_col)
    return pv.agg(agg_col)


def semester_bounds(quarter_end: str, year: int) -> tuple[str, str]:
    """Quarter-end month → (start, end) ``YYYYMM`` semester window.

    Reference month-range map {"03": (Y-1·10, Y·03), "06": (Y·01, Y·06),
    "09": (Y·04, Y·09), "12": (Y·07, Y·12)}
    (update_pnls_report/extract_pec_data.py:193-198).
    """
    table = {
        "03": (f"{year - 1}10", f"{year}03"),
        "06": (f"{year}01", f"{year}06"),
        "09": (f"{year}04", f"{year}09"),
        "12": (f"{year}07", f"{year}12"),
    }
    return table[quarter_end]


def calendar_bucket_agg(
    df: DataFrame,
    date_col: Column,
    keys: list[str],
    value_cols: list[str],
    bucket: str = "semester",
) -> DataFrame:
    """Re-aggregate facts into calendar buckets (A6 generalized).

    The reference relabels months into explicit semester windows then
    re-sums (update_pnls_report/extract_pec_data.py:184-291); here the
    bucket label is computed natively from the date (no join needed) and
    fed through the same hash aggregate. ``bucket`` ∈ {month, quarter,
    semester, year}.
    """
    y = F.year(date_col)
    exprs: dict[str, Column] = {
        "month": F.date_format(date_col, "yyyyMM"),
        "quarter": F.concat_ws("Q", y.cast("string"), F.quarter(date_col).cast("string")),
        "semester": F.concat_ws(
            "S",
            y.cast("string"),
            F.when(F.month(date_col) <= 6, F.lit("1")).otherwise(F.lit("2")),
        ),
        "year": y.cast("string"),
    }
    out = df.withColumn("bucket", exprs[bucket])
    return grouped_sum(out, [*keys, "bucket"], value_cols)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[Column],
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) event-time window
    aggregation (engine extension, §2.13).

    Batch counterpart of the Structured Streaming windowed aggregation in
    ``hiv_data_integration_spark.streaming``; the same expression works
    under ``readStream`` with a watermark. With ``slide`` each event
    lands in ``duration/slide`` overlapping windows (Spark materializes
    the fan-out at assignment time — the streaming state and the batch
    shuffle both scale by that factor, so keep the ratio small).
    """
    w = (
        F.window(F.col(ts_col), duration, slide)
        if slide is not None
        else F.window(F.col(ts_col), duration)
    )
    return (
        df.groupBy(*keys, w.alias("window"))
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def _epoch_seconds(df: DataFrame, ts_col: str) -> Column:
    """Timezone-proof epoch seconds. NTZ gets pure field arithmetic on
    the local value (no timezone involved — the NTZ→TIMESTAMP→long hop
    only cancels in subtractions for CONSTANT offsets, and a DST-observing
    session shifts gaps straddling a transition); LTZ is already an epoch
    and casts to long timezone-independently by definition."""
    ts_type = df.schema[ts_col].dataType
    if isinstance(ts_type, T.TimestampNTZType):
        c = F.col(ts_col)
        return (
            F.unix_date(c.cast("date")).cast("long") * 86400
            + F.hour(c) * 3600
            + F.minute(c) * 60
            + F.second(c)
        )
    return F.col(ts_col).cast("timestamp").cast("long")


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign gap-based session ids per user (engine extension).

    Classic lag + cumulative-sum formulation: a new session starts when the
    gap from the previous event exceeds ``gap_minutes``. Two shuffles on
    ``user_col`` (window + window) that AQE plans as one exchange reused.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    epoch_s = _epoch_seconds(df, ts_col)  # tz-proof: see the helper
    prev_ts = F.lag(epoch_s).over(w)
    new_session = (
        F.when(prev_ts.isNull(), F.lit(1))
        .when(epoch_s - prev_ts > gap_s, F.lit(1))
        .otherwise(F.lit(0))
    )
    return df.withColumn(
        "session_seq", F.sum(new_session).over(w)
    ).withColumn(
        "session_id",
        F.concat_ws("#", F.col(user_col).cast("string"), F.col("session_seq").cast("string")),
    )


def funnel_conversion(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap: str | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: how many users reach each stage IN ORDER
    (stage n+1 counts only events strictly after the user's stage-n entry).

    ``max_gap`` (an INTERVAL string, e.g. ``"48 hours"``) makes the funnel
    STRICT: stage n+1 must also land within the gap after the stage-n
    entry — the "converted within the attribution window" semantics, pure
    timestamp interval arithmetic (timezone-free on NTZ event time).

    Classic event analytics that the per-event window trick cannot express
    directly; here it is a chain of conditional min-aggregates — one
    hash-aggregate per stage on the user key, each joined back broadcast
    (the per-user stage table shrinks monotonically). Output one row per
    stage: ``(stage_idx, stage, n_users)``.
    """
    if not stages:
        raise ValueError("need at least one funnel stage")
    reached = None  # (user, t_entry) of the previous stage
    counts = []
    for idx, stage in enumerate(stages):
        ev = events.filter(F.col(type_col) == stage).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_t")
        )
        if reached is not None:
            ev = ev.join(reached, "_u").filter(F.col("_t") > F.col("_prev"))
            if max_gap is not None:
                ev = ev.filter(
                    F.col("_t") <= F.col("_prev") + F.expr(f"INTERVAL {max_gap}")
                )
        reached = ev.groupBy("_u").agg(F.min("_t").alias("_prev"))
        counts.append(
            reached.agg(
                F.lit(idx).cast("long").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.count("*").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort/retention matrix: users grouped by first-activity day, with
    distinct active users counted per whole-week offset from the cohort
    day — the standard product-analytics rollup.

    Two shuffles (first-day per user, then the cohort×offset count); the
    distinct-day projection keeps the join input at one row per
    (user, day). Output: ``(cohort_day, week_offset, n_users)``.
    """
    first = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(F.to_date(ts_col)).alias("cohort_day")
    )
    active = events.select(
        F.col(user_col).alias("_u"), F.to_date(ts_col).alias("_d")
    ).distinct()
    return (
        active.join(first, "_u")
        .groupBy(
            "cohort_day",
            F.floor(F.datediff("_d", "cohort_day") / 7).cast("long").alias(
                "week_offset"
            ),
        )
        .agg(F.count_distinct("_u").alias("n_users"))
    )


def user_event_sequences(
    df: DataFrame,
    user_col: str,
    event_col: str,
    order_cols: list[str],
    max_len: int = 50,
) -> DataFrame:
    """Per-user ordered event sequences — the behavioral-data-to-training-
    sample primitive (recommendation / next-action models consume exactly
    this shape: one row per user, the chronologically ordered action
    list, truncated to a budget).

    One hash aggregate per user: ``collect_list(struct(order, event))`` →
    ``array_sort`` (struct ordering is field-by-field, so ``order_cols``
    MUST make the sort key unique — with non-unique keys the event value
    becomes the final tiebreak, which a SQL oracle's unstable ORDER BY
    will not reproduce) → project the event column → head-truncate to
    ``max_len``. Rows with a NULL order key are dropped first: an event
    without a position cannot appear in an ordered sequence, and Spark's
    NULLS-FIRST struct sort would otherwise diverge from SQL's
    NULLS-LAST default. Deterministic by construction, so an external
    oracle reproduces the sequences bit-for-bit
    (``list(x ORDER BY ...)`` + slice).

    Scale: the only shuffle is the per-user aggregate; per-group state is
    the user's own event list — bounded by per-user activity, with
    ``max_len`` as the downstream contract (pre-filter upstream if single
    users can hold millions of events).

    Output: ``(user, n_events, seq_len, sequence)``.
    """
    if max_len < 1:
        raise ValueError("user_event_sequences: max_len must be >= 1")
    df = df.na.drop(subset=order_cols)
    key = F.struct(*[F.col(c) for c in order_cols], F.col(event_col).alias("_e"))
    seq_full = F.transform(
        F.array_sort(F.collect_list(key)), lambda s: s.getField("_e")
    )
    return df.groupBy(F.col(user_col).alias("user")).agg(
        F.count("*").alias("n_events"),
        F.least(F.count("*"), F.lit(max_len)).cast("long").alias("seq_len"),
        F.slice(seq_full, 1, max_len).alias("sequence"),
    )


def trailing_window_features(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    window_seconds: int = 600,
    sum_dtype: str = "decimal(28,6)",
) -> DataFrame:
    """Per-event trailing-interval features: for every event, the count
    and exact value sum over the SAME user's events in the preceding
    ``window_seconds`` (inclusive of the current row and of same-second
    peers — RANGE frame semantics, identical in every engine).

    The classic real-time feature-engineering shape ("activity in the
    last 10 minutes") expressed as ONE range-frame window over tz-proof
    epoch seconds — no self-join, no explosion; the only shuffle is the
    per-user partition. Value sums accumulate in DECIMAL so the result
    is order-independent and bit-identical across engines (a double
    accumulator would round differently under each engine's frame
    evaluation order).

    Precision contract: values are cast to ``sum_dtype`` (default
    ``decimal(28,6)``) — inputs with more than 6 fractional digits ROUND
    to the scale, and |value| >= 1e22 overflows the accumulator to NULL
    (non-ANSI cast), dropping the row from the sum. Pass a wider
    ``sum_dtype`` for such inputs, or enable ``spark.sql.ansi.enabled``
    to make overflow raise instead of going NULL.

    Output: input columns + ``n_trailing`` (long) + ``sum_trailing``
    (double, exact at ``sum_dtype``'s precision/scale).
    """
    from pyspark.sql.window import Window

    if window_seconds < 0:
        raise ValueError("trailing_window_features: window_seconds must be >= 0")
    clash = {"n_trailing", "sum_trailing"} & set(df.columns)
    if clash:
        raise ValueError(
            f"trailing_window_features: input already has column(s) "
            f"{sorted(clash)} — alias the first horizon's outputs before "
            f"computing another window length"
        )
    epoch_s = _epoch_seconds(df, ts_col)
    w = (
        Window.partitionBy(user_col)
        .orderBy(epoch_s)
        .rangeBetween(-window_seconds, 0)
    )
    return df.withColumn(
        "n_trailing", F.count("*").over(w).cast("long")
    ).withColumn(
        "sum_trailing",
        F.sum(F.col(value_col).cast(sum_dtype)).over(w).cast("double"),
    )


def numeric_histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column — the data-profiling
    primitive (drift checks between pipeline runs, outlier triage, bin
    sanity before quantile work).

    Bounds default to the column's min/max over finite values (one stats
    pass, 2 doubles of driver state). Bin index = ``floor((v - lo) /
    width)`` clamped to ``[0, bins-1]`` — with CALLER-SUPPLIED bounds this
    means out-of-range values are counted in the edge bins (the profile
    accounts for every row; pre-filter if you want out-of-range rows
    excluded instead). NULL and NaN both report as bin -1: NaN has no
    position on the axis, and without the explicit branch Spark's
    NaN-is-largest ordering would silently inflate the top bin. One
    partial+final hash aggregate — a distributed map at any scale.

    Output: ``(bin, n_rows, bin_lo, bin_hi)`` — edge columns are derived
    per bin for direct rendering.
    """
    if bins < 1:
        raise ValueError("numeric_histogram: bins must be >= 1")
    v = F.col(value_col).cast("double")
    # NaN joins NULL in the -1 bin; keep it out of the auto-bounds pass
    # too (min/max treat NaN as largest — an auto hi of NaN would poison
    # every bin edge)
    unbinnable = v.isNull() | F.isnan(v)
    if lo is None or hi is None:
        finite = F.when(~F.isnan(v), v)
        row = df.agg(
            F.min(finite).alias("_lo"), F.max(finite).alias("_hi")
        ).collect()[0]
        lo = row["_lo"] if lo is None else lo
        hi = row["_hi"] if hi is None else hi
    if lo is None or hi is None or hi <= lo:
        # degenerate: constant or empty column — everything in bin 0
        b = F.when(unbinnable, F.lit(-1)).otherwise(F.lit(0))
        width = 0.0
    else:
        width = (float(hi) - float(lo)) / bins
        raw = F.floor((v - F.lit(float(lo))) / F.lit(width))
        b = F.when(unbinnable, F.lit(-1)).otherwise(
            F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
        )
    return (
        df.groupBy(b.cast("long").alias("bin"))
        .agg(F.count("*").alias("n_rows"))
        .withColumn(
            "bin_lo",
            F.when(F.col("bin") < 0, F.lit(None).cast("double")).otherwise(
                F.lit(float(lo or 0.0)) + F.col("bin") * F.lit(width)
            ),
        )
        .withColumn(
            "bin_hi",
            F.when(F.col("bin") < 0, F.lit(None).cast("double")).otherwise(
                F.lit(float(lo or 0.0)) + (F.col("bin") + 1) * F.lit(width)
            ),
        )
    )


def completeness_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column completeness/cardinality profile — the data-quality
    gate run before a corpus version ships: one row per profiled column
    with total rows, non-null count, null count, and exact distinct
    count.

    ONE aggregation job: all per-column aggregates evaluate in a single
    global agg row (Spark plans the multiple DISTINCTs as an expand —
    fine for the handful of columns a profile covers), then the wide row
    unpivots to long via an inline struct array. No per-column scans.
    """
    if not cols:
        raise ValueError("completeness_profile: cols must be non-empty")
    aggs = [F.count("*").alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).alias(f"_nn{i}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd{i}"))
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nn{i}").alias("n_nonnull"),
                (F.col("_n") - F.col(f"_nn{i}")).alias("n_nulls"),
                F.col(f"_nd{i}").alias("n_distinct"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return wide.select(F.explode(entries).alias("e")).select(
        "e.column", "e.n_rows", "e.n_nonnull", "e.n_nulls", "e.n_distinct"
    )


def gap_fill_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: Column,
    bucket: str = "hour",
    step_expr: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward: per
    key, build the dense ``bucket`` grid from the key's first to last
    observation (``F.sequence`` + explode — in-plan, no driver loop), left
    join the observed per-bucket aggregate, and forward-fill missing
    buckets with ``last(value, ignorenulls=True)`` over the ordered
    window. Emits ``(key, bucket_ts, value, filled)`` where ``filled``
    marks carried-forward rows.

    The classic feature-store densifier (sensor/metric resampling). Scale:
    the grid explode multiplies rows by buckets-per-key, not corpus size;
    the forward-fill is one window over the same (key, ts) sort the grid
    join already clustered, so Catalyst reuses the shuffle. Skewed keys
    (one key spanning years at minute grain) dominate their partition —
    range-partition on (key, bucket_ts) first if a key's grid exceeds a
    partition's memory.
    """
    from pyspark.sql.window import Window

    # bucket via F.window(...).start, NOT date_trunc: date_trunc coerces
    # TIMESTAMP_NTZ to the session-zone TIMESTAMP (a +05:45 session shifts
    # hour boundaries by 45 min), while window() truncates NTZ in place —
    # the same tz-proofing contract the tumbling-window operators rely on
    b = F.window(F.col(ts_col), f"1 {bucket}").start
    observed = (
        # NULL timestamps carry no position on the grid: drop them rather
        # than let a NULL bucket generate a NULL→NULL sequence
        df.filter(F.col(ts_col).isNotNull())
        .select(F.col(key_col).alias("key"), b.alias("bucket_ts"),
                value_col.alias("_v"))
        .groupBy("key", "bucket_ts")
        .agg(F.sum("_v").alias("_v"))
        # materialize the (keys × buckets)-sized aggregate: BOTH the grid
        # bounds and the fill join consume it, and without a checkpoint
        # each consumer re-runs the full source scan — 1 corpus scan
        # instead of 2 (same pattern as unigram_logprob's freq table)
        .localCheckpoint()
    )
    grid = (
        observed.groupBy("key")
        .agg(F.min("bucket_ts").alias("_lo"), F.max("bucket_ts").alias("_hi"))
        .select(
            "key",
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(step_expr))
            ).alias("bucket_ts"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(observed, ["key", "bucket_ts"], "left")
        .select(
            "key",
            "bucket_ts",
            F.last("_v", ignorenulls=True).over(w).alias("value"),
            F.col("_v").isNull().alias("filled"),
        )
    )


def countmin_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    prime: int = (1 << 61) - 1,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of key
    frequencies: a ``depth × width`` integer table where
    ``cms[r][h_r(key)] += 1`` per occurrence, with the pairwise-
    independent hash family ``h_r(k) = ((a_r·x + b_r) mod P) mod width``
    over the portable 60-bit md5 integer ``x`` of the key (the same
    affine-over-md5 construction the MinHash permutations use, so every
    engine reproduces the identical sketch).

    Counts are pure integer SUMs — commutative, so the sketch is
    bit-identical under any partitioning. This is the sketch's scale
    story: the output is ``depth·width`` rows REGARDLESS of corpus
    size, built by one map-side-combinable aggregate; merging shard
    sketches is elementwise addition, so it composes with streaming
    and incremental builds for free.

    Output: ``(row, bucket, cnt)`` — only non-empty buckets (absent
    buckets are zero).
    """
    from hiv_data_integration_spark.operators.dedup import md5_long

    x = md5_long(F.col(key_col))
    # one scan: the md5 is computed once per occurrence and fanned out to
    # the depth buckets by posexplode (a depth-way unionAll would re-hash
    # the key per sketch row)
    buckets = F.array(
        *[
            (
                ((F.lit(2 * r + 1) * x + F.lit(1000003 * r + 12345)) % prime)
                % width
            ).cast("long")
            for r in range(depth)
        ]
    )
    return (
        df.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def countmin_query(
    cms: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    prime: int = (1 << 61) - 1,
) -> DataFrame:
    """Point-estimate key counts from a :func:`countmin_build` sketch:
    ``est(k) = min_r cms[r][h_r(k)]`` — an overestimate with
    probability-bounded error (ε = e/width with probability 1−e^−depth).

    The sketch is tiny (``depth·width`` rows) and broadcasts; probes
    never shuffle. Missing buckets read as 0.

    The whole sketch is PACKED into one single-row broadcast map keyed
    by ``row·width + bucket`` and probed with ``element_at``. The
    earlier shape — one broadcast join per sketch row against
    ``cms.filter(row == r)`` — planned ``depth`` separate broadcast
    subtrees, and because the row filter pushes BELOW the build's
    aggregate, none of them were recognized as a reusable exchange: the
    entire upstream sketch build (corpus scan + token explode + bucket
    fan-out + aggregate) executed ``depth`` times (measured at sf0.1:
    5 corpus passes for depth=4; −28% after the rewrite). One
    cross-join of a 1-row relation replaces all of them; the estimate
    arithmetic is unchanged (guide §7.2 duplicated subtrees).

    Output: probes' columns + ``cms_est``.
    """
    from hiv_data_integration_spark.operators.dedup import md5_long

    packed = cms.groupBy().agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("row") * width + F.col("bucket")).alias("k"),
                    F.col("cnt").alias("v"),
                )
            )
        ).alias("_cms_m")
    )
    x = md5_long(F.col(key_col))
    slot = [
        F.lit(r) * width
        + (
            ((F.lit(2 * r + 1) * x + F.lit(1000003 * r + 12345)) % prime)
            % width
        ).cast("long")
        for r in range(depth)
    ]
    est = F.least(
        *[
            F.coalesce(F.element_at(F.col("_cms_m"), s), F.lit(0))
            for s in slot
        ]
    ).cast("long")
    keep = [c for c in probes.columns]
    return probes.crossJoin(F.broadcast(packed)).select(
        *keep, est.alias("cms_est")
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 5,
    prime: int = (1 << 61) - 1,
) -> DataFrame:
    """Portable Bloom filter of a key set: each key sets ``num_hashes``
    bit positions from the affine-over-md5 hash family (same portable
    construction as :func:`countmin_build`). The filter is the DISTINCT
    set-bit table — bit-OR is commutative, so the filter is bit-stable
    under any partitioning, and merging shard filters is a plain
    UNION/DISTINCT (mergeable like the CMS; composes with incremental
    ingestion). No false negatives by construction; the false-positive
    rate is the standard ``(1 - e^{-kn/m})^k``.

    At scale the output is at most ``num_bits`` rows regardless of input
    size — the classic use is shipping a compact membership summary of a
    huge key set to prune a scan or join (the DIY analogue of the
    runtime bloom-filter join pins in ``session.py``).

    Output: ``(bit,)`` — the set bit positions.
    """
    from hiv_data_integration_spark.operators.dedup import md5_long

    x = md5_long(F.col(key_col))
    bits = F.array(
        *[
            (
                ((F.lit(2 * r + 1) * x + F.lit(1000003 * r + 12345)) % prime)
                % num_bits
            ).cast("long")
            for r in range(num_hashes)
        ]
    )
    return df.select(F.explode(bits).alias("bit")).distinct()


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 5,
    prime: int = (1 << 61) - 1,
) -> DataFrame:
    """Membership test against a :func:`bloom_build` filter:
    ``maybe_present`` iff EVERY hash position of the key is set. A key's
    hash positions may collide with each other, so presence compares the
    per-key DISTINCT position count against its matched count — not
    against ``num_hashes``.

    The filter (≤ ``num_bits`` rows) broadcasts; probes never shuffle
    beyond their own key aggregation.

    Output: probes' columns + ``maybe_present``.
    """
    from hiv_data_integration_spark.operators.dedup import md5_long

    x = md5_long(F.col(key_col))
    bits = F.array_distinct(
        F.array(
            *[
                (
                    (
                        (F.lit(2 * r + 1) * x + F.lit(1000003 * r + 12345))
                        % prime
                    )
                    % num_bits
                ).cast("long")
                for r in range(num_hashes)
            ]
        )
    )
    probe_bits = probes.select(
        "*", F.size(bits).alias("_n_pos"), F.explode(bits).alias("bit")
    )
    hit = bloom.select("bit", F.lit(1).alias("_hit"))
    keep = list(probes.columns)
    return (
        probe_bits.join(F.broadcast(hit), "bit", "left")
        .groupBy(*keep, "_n_pos")
        .agg(F.sum("_hit").alias("_hits"))
        .select(
            *keep,
            (F.coalesce(F.col("_hits"), F.lit(0)) == F.col("_n_pos")).alias(
                "maybe_present"
            ),
        )
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_col: str,
    p_lo: float = 0.125,
    p_hi: float = 0.875,
) -> DataFrame:
    """Per-group winsorization profile: exact percentile bounds at
    ``p_lo``/``p_hi``, clamp counts, and the DECIMAL-exact sum of the
    winsorized values — the standard outlier-robust normalization pass
    before feature scaling.

    Bit-reproducibility contract: pick ``p_lo``/``p_hi`` exactly
    representable in binary (defaults 1/8 and 7/8) — exact ``percentile``
    interpolates linearly, and with binary-exact fractions the
    interpolated bound is the same IEEE double on every engine (the
    grouped_quantiles precedent). The clamped values are summed as
    DECIMAL, never floating accumulation.

    Plan: one exact-percentile aggregate per group (sort-based within
    the group partition), broadcast the tiny bounds table back, one
    clamp-and-aggregate pass. Two scans of the fact, no self-join.
    """
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {p_lo!r})").alias("_lo"),
        F.expr(f"percentile({value_col}, {p_hi!r})").alias("_hi"),
    )
    v = F.col(value_col)
    clamped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.min("_lo").alias("lo_bound"),
            F.min("_hi").alias("hi_bound"),
            F.count("*").alias("n_rows"),
            F.sum((v < F.col("_lo")).cast("long")).alias("n_clamped_lo"),
            F.sum((v > F.col("_hi")).cast("long")).alias("n_clamped_hi"),
            F.sum(clamped.cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_winsorized"),
        )
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Median/MAD robust outlier profile per group: flags values with
    ``|x - median| > k * MAD`` (median absolute deviation) — the
    variance-free robust z-score, immune to the outliers it hunts
    (unlike mean/stddev, which the outliers themselves drag).

    Float determinism: built-in median implementations interpolate with
    engine-specific expression trees (``(a+b)/2`` vs
    ``lo + (hi-lo)·0.5`` round differently at the last ulp on arbitrary
    doubles), so the median here is spelled EXPLICITLY: rank the group,
    take the two middle values, midpoint as ``(a+b)/2`` — any engine
    mirroring that exact expression reproduces the bits. ``|x - med|``
    is one subtraction; the threshold compare multiplies ``k·MAD``
    once. No accumulation-order dependence anywhere.

    Plan: rank window + middle-pick aggregate → broadcast join-back →
    same again for the deviation median → flag-and-count. Each pass is
    one shuffle on the group key, partitions bounded by group size; at
    100 TB swap the exact rank-median for ``approx_percentile`` and
    keep the shape.
    """

    def exact_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy(group_col).orderBy(col)
        ranked = frame.select(
            group_col,
            F.col(col).alias("_v"),
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(Window.partitionBy(group_col)).alias("_n"),
        )
        lo_i = F.expr("(_n + 1) div 2")
        hi_i = F.expr("(_n + 2) div 2")
        return ranked.groupBy(group_col).agg(
            (
                (
                    F.min(F.when(F.col("_rn") == lo_i, F.col("_v")))
                    + F.min(F.when(F.col("_rn") == hi_i, F.col("_v")))
                )
                / F.lit(2.0)
            ).alias(out)
        )

    med = exact_median(df, value_col, "_med")
    v = F.col(value_col)
    devs = df.join(F.broadcast(med), group_col).select(
        group_col, "_med", F.abs(v - F.col("_med")).alias("_dev")
    )
    mad = exact_median(devs, "_dev", "_mad")
    flagged = devs.join(F.broadcast(mad), group_col)
    return flagged.groupBy(group_col).agg(
        F.min("_med").alias("med"),
        F.min("_mad").alias("mad"),
        F.count("*").alias("n_rows"),
        F.sum(
            (F.col("_dev") > F.lit(k) * F.col("_mad")).cast("long")
        ).alias("n_outliers"),
    )


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order behavioral transition matrix: counts and probabilities
    of consecutive event-type pairs per user stream — the input to
    Markov-chain behavior models and next-event training labels.

    Ordering contract: ``(ts_col, tiebreak_col)`` must totally order each
    user's events (pass a unique id as tiebreak) — same bit-determinism
    contract as ``user_event_sequences``. The transition probability is
    ONE double division of two exact integers, so it hashes identically
    everywhere.

    Plan: one lag window over the user partition, one hash aggregate on
    the (from, to) pair, one broadcast-sized re-aggregate for the
    per-source totals joined back. Scales as a single shuffle on users
    plus vocabulary-sized joins.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.select(
            F.col(user_col),
            F.col(type_col).alias("to_type"),
            F.lag(type_col).over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_trans")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_trans").alias("_total")
    )
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            (
                F.col("n_trans").cast("double")
                / F.col("_total").cast("double")
            ).alias("p_trans"),
        )
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: Column | str,
    bucket_div: int | None = None,
) -> DataFrame:
    """Exact weighted (lower) median per group: the smallest value whose
    cumulative weight reaches half the group's total weight — the
    token-weighted quality statistic of corpus curation ("median document
    quality, weighted by how many tokens each document contributes"),
    where the unweighted median over documents would let millions of tiny
    documents outvote the bulk of the training tokens.

    Weights are cast to BIGINT, so the half-total comparison is pure
    integer math (``2·cum >= total``) — no float quantile interpolation
    to diverge between engines. Values first aggregate their weights per
    (group, value), making the cumulative window key unique (ROWS ==
    RANGE, no peer ambiguity).

    Direct path (``bucket_div=None``): one (group, value) hash aggregate,
    one window pass partitioned by group, one final min-aggregate. The
    window's sort runs on ONE task per group — fine when groups are many
    or per-group distinct values are bounded, a single-reducer bottleneck
    when a handful of groups hold millions of distinct values.

    Bucketed path (``bucket_div=N``, positive values only): a two-phase
    exact algorithm for exactly that case. Phase 1 aggregates weights per
    (group, ``floor(value/N)``) bucket — bucket-cardinality-sized — and a
    tiny window finds each group's median BUCKET plus the cumulative
    weight strictly before it. Phase 2 re-aggregates only the rows inside
    each group's median bucket (a broadcast semi-filter) and resolves the
    median within ~N-wide slices. Both heavy aggregates are partial+final
    hash aggregates keyed by (group, value-ish); no full-group sort ever
    happens. Same bits out as the direct path. Two notes: the source is
    scanned twice (inherent to exact two-pass selection — cache or
    checkpoint upstream if the scan is expensive), and at toy scale the
    extra stages cost more than the sort they remove (~0.3 s at sf0.1) —
    the candidate cut is the 100 TB story, like the PPJoin twin.

    Output: ``(group, weighted_median, total_weight)``.
    """
    from pyspark.sql.window import Window

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    base = df.select(
        F.col(group_col).alias("_grp"),
        F.col(value_col).alias("_val"),
        w.cast("long").alias("_wl"),
    )

    if bucket_div is None:
        per_val = base.groupBy("_grp", "_val").agg(
            F.sum("_wl").alias("_w")
        )
        cum_w = (
            Window.partitionBy("_grp")
            .orderBy("_val")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        tot_w = Window.partitionBy("_grp")
        c = per_val.withColumn("_cum", F.sum("_w").over(cum_w)).withColumn(
            "_total", F.sum("_w").over(tot_w)
        )
        return (
            c.filter(F.col("_cum") * 2 >= F.col("_total"))
            .groupBy(F.col("_grp").alias(group_col))
            .agg(
                F.min("_val").alias("weighted_median"),
                F.min("_total").alias("total_weight"),
            )
        )

    if bucket_div <= 0:
        raise ValueError("weighted_median: bucket_div must be positive")
    # phase 1: bucket histogram straight off the raw rows — the shuffle
    # carries bucket-cardinality rows after map-side combine, never the
    # full (group, value) set (truncation == floor for non-negative
    # values; the contract is positive-domain measures like prices,
    # token counts, quality scores)
    bucketed = base.withColumn(
        "_b", (F.col("_val") / F.lit(bucket_div)).cast("long")
    )
    per_bucket = bucketed.groupBy("_grp", "_b").agg(
        F.sum("_wl").alias("_bw")
    )
    cum_b = (
        Window.partitionBy("_grp")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_b = Window.partitionBy("_grp")
    hist = per_bucket.withColumn(
        "_cum", F.sum("_bw").over(cum_b)
    ).withColumn("_total", F.sum("_bw").over(tot_b))
    # the median bucket and the weight mass strictly before it
    target = (
        hist.filter(F.col("_cum") * 2 >= F.col("_total"))
        .groupBy("_grp")
        .agg(
            F.min_by(F.struct("_b", "_cum", "_bw", "_total"), "_b").alias(
                "_t"
            )
        )
        .select(
            F.col("_grp").alias("_tgrp"),
            F.col("_t._b").alias("_tb"),
            (F.col("_t._cum") - F.col("_t._bw")).alias("_before"),
            F.col("_t._total").alias("_total"),
        )
    )
    # phase 2: resolve inside each group's median bucket only (renamed
    # join keys — target derives from bucketed, so same-name refs would
    # be an ambiguous self-join lineage). The broadcast filter prunes the
    # raw rows BEFORE any value-keyed aggregation: only ~one bucket per
    # group ever reaches the per-value hash aggregate.
    in_bucket = (
        bucketed.join(
            F.broadcast(target),
            (F.col("_grp") == F.col("_tgrp"))
            & (F.col("_b") == F.col("_tb")),
        )
        .groupBy("_grp", "_val", "_before", "_total")
        .agg(F.sum("_wl").alias("_w"))
    )
    cum_v = (
        Window.partitionBy("_grp")
        .orderBy("_val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = in_bucket.withColumn(
        "_cum", F.col("_before") + F.sum("_w").over(cum_v)
    )
    return (
        resolved.filter(F.col("_cum") * 2 >= F.col("_total"))
        .groupBy(F.col("_grp").alias(group_col))
        .agg(
            F.min("_val").alias("weighted_median"),
            F.min("_total").alias("total_weight"),
        )
    )


def rfm_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-user RFM (recency / frequency / monetary) features — the
    classic behavioral feature triple fed to churn / LTV / segmentation
    models.

    Recency is whole days between the user's last activity and the
    corpus-wide anchor (the max event date — a 1-row broadcast, so the
    feature is reproducible from the data alone, no wall-clock).
    Monetary accumulates in DECIMAL(28,6) so the per-user sum is
    bit-identical regardless of partitioning (doubles round-trip the
    cast losslessly at this scale); one final cast back to double.

    One user-keyed hash aggregate + one broadcast — no windows, no
    driver state. Output: ``(user, recency_days, frequency, monetary)``.
    """
    anchor = events.agg(F.max(F.to_date(ts_col)).alias("_anchor"))
    per_user = events.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.to_date(ts_col)).alias("_last"),
        F.count("*").alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("_mon"),
    )
    return per_user.crossJoin(F.broadcast(anchor)).select(
        "user",
        F.datediff(F.col("_anchor"), F.col("_last")).cast("long").alias(
            "recency_days"
        ),
        "frequency",
        F.col("_mon").cast("double").alias("monetary"),
    )


def linear_attribution(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    attribution_window: str = "72 hours",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Linear multi-touch attribution: every touch event inside the
    attribution window before a conversion shares the conversion's
    credit equally (credit ``1/n`` per touch, ``n`` = touches in that
    conversion's window).

    Credits are reported EXACTLY, decomposed by window-size cohort: one
    row per ``(touch_type, n_touches)`` with the integer credit
    numerator (touches of this type across all conversions whose window
    held ``n_touches``) — ``credit = credit_num / n_touches`` is then a
    single IEEE division of exact BIGINTs, bit-reproducible. Summing
    ``1/n`` floats across conversions would be order-dependent; the
    cohort decomposition is the rational-arithmetic form of the same
    answer.

    Plan: conversions×touches join on the user key with the window
    bounds as a range residual (shuffled hash join on ``user`` — the
    window bound keeps per-user pair counts finite at any scale), then
    two conversion-keyed hash aggregates. Output: ``(touch_type,
    n_touches, credit_num, n_conversions, credit)``.
    """
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ct"),
        F.col(id_col).alias("_cid"),
    )
    touch = events.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_tt"),
        F.col(ts_col).alias("_tts"),
    )
    paired = conv.join(touch, "_u").filter(
        (F.col("_tts") < F.col("_ct"))
        & (
            F.col("_tts")
            >= F.col("_ct") - F.expr(f"INTERVAL {attribution_window}")
        )
    )
    per_conv_type = paired.groupBy("_cid", "_tt").agg(
        F.count("*").alias("_cnt")
    )
    per_conv = per_conv_type.groupBy("_cid").agg(
        F.sum("_cnt").alias("n_touches")
    )
    return (
        per_conv_type.join(per_conv, "_cid")
        .groupBy(F.col("_tt").alias("touch_type"), F.col("n_touches"))
        .agg(
            F.sum("_cnt").alias("credit_num"),
            F.count_distinct("_cid").alias("n_conversions"),
        )
        .select(
            "touch_type",
            "n_touches",
            "credit_num",
            "n_conversions",
            (
                F.col("credit_num").cast("double")
                / F.col("n_touches").cast("double")
            ).alias("credit"),
        )
    )


def benford_profile(
    df: DataFrame,
    value_col: str,
    decimal_scale: int = 2,
) -> DataFrame:
    """Leading-digit (Benford) profile of a positive numeric column —
    the data-forensics / drift primitive (fabricated or re-scaled
    measure columns show up as a first-digit histogram that departs
    from the natural log-uniform shape).

    The value is made an exact integer first (DECIMAL cast at
    ``decimal_scale`` then scaled up — never ``floor(value × 10^s)`` on
    doubles, which is off-by-one near representation boundaries), and
    the leading digit is the first character of the BIGINT's decimal
    string: integer→string is exact and identical on every engine,
    unlike float formatting or ``log10`` (whose libm rounding differs
    across platforms at powers of ten). Non-positive and NULL values
    are excluded (Benford is defined on positive magnitudes).

    One hash aggregate on a 9-value key + a 1-row broadcast for the
    share division. Output: ``(leading_digit, n_values, share)``.
    """
    scaled = (
        F.col(value_col).cast(f"decimal(28,{decimal_scale})")
        * F.lit(10**decimal_scale).cast("decimal(10,0)")
    ).cast("long")
    digits = (
        df.select(scaled.alias("_units"))
        .filter(F.col("_units") > 0)
        .select(
            F.substring(F.col("_units").cast("string"), 1, 1)
            .cast("long")
            .alias("leading_digit")
        )
    )
    counts = digits.groupBy("leading_digit").agg(
        F.count("*").alias("n_values")
    )
    total = counts.agg(F.sum("n_values").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "leading_digit",
        "n_values",
        (
            F.col("n_values").cast("double") / F.col("_total").cast("double")
        ).alias("share"),
    )


def rank_correlation(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """Spearman rank correlation between two metrics, per group — the
    monotone-association check of data profiling ("does quality score
    actually track document length?") that Pearson on raw values gets
    wrong under any nonlinear but monotone relationship.

    Ranks are made UNIQUE by the id tiebreak (the fractional
    average-rank tie convention would reintroduce float rank
    arithmetic; with unique ranks ``rho = 1 - 6·Σd² / (n·(n²-1))`` is
    exact BIGINT math up to one final IEEE division — document the
    convention when comparing against stats packages on tied data).
    Groups with fewer than 2 rows are dropped (rho undefined; and
    n·(n²-1)=0 division-by-zero semantics differ across engines).

    Two windows per group (one per metric) + one group aggregate —
    everything shuffles on the group key. Output:
    ``(group, n, sum_d2, rho)``.
    """
    from pyspark.sql.window import Window

    wx = Window.partitionBy("_grp").orderBy(F.col("_x"), F.col("_id"))
    wy = Window.partitionBy("_grp").orderBy(F.col("_y"), F.col("_id"))
    ranked = (
        df.select(
            F.col(group_col).alias("_grp"),
            F.col(x_col).alias("_x"),
            F.col(y_col).alias("_y"),
            F.col(id_col).alias("_id"),
        )
        .withColumn("_rx", F.row_number().over(wx).cast("long"))
        .withColumn("_ry", F.row_number().over(wy).cast("long"))
    )
    d = F.col("_rx") - F.col("_ry")
    return (
        ranked.groupBy(F.col("_grp").alias(group_col))
        .agg(
            F.count("*").alias("n"),
            F.sum(d * d).alias("sum_d2"),
        )
        .filter(F.col("n") >= 2)
        .select(
            group_col,
            "n",
            "sum_d2",
            (
                F.lit(1.0)
                - (F.lit(6.0) * F.col("sum_d2").cast("double"))
                / (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("double")
            ).alias("rho"),
        )
    )


def sequence_pattern_match(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order_cols: list[str],
    pattern: str,
) -> DataFrame:
    """ClickHouse-``sequenceMatch``-style behavioral pattern test: per
    user, does the chronologically ordered event-type string match the
    regex? (``'view.*click.*purchase'`` = "ever funnel-converted, any
    gaps allowed" — the cohort-definition primitive behind audience
    segments and conversion labels.)

    Same ordering contract as :func:`user_event_sequences`: NULL order
    keys drop, ``order_cols`` must make the sort key unique so the
    array_sort is total and any engine reproduces the string. The
    regex runs once per user on the joined type string (types are
    space-joined words, so ``.*`` cannot bridge a partial token match
    unless the type vocabulary itself overlaps — use word boundaries
    if it does). One user-keyed hash aggregate; per-group state is the
    user's own event list.

    Output: ``(user, n_events, matched)``.
    """
    df = df.na.drop(subset=order_cols)
    key = F.struct(
        *[F.col(c) for c in order_cols], F.col(type_col).alias("_e")
    )
    seq_str = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(key)), lambda s: s.getField("_e")
        ),
    )
    return df.groupBy(F.col(user_col).alias("user")).agg(
        F.count("*").alias("n_events"),
        seq_str.rlike(pattern).alias("matched"),
    )


def hll_merged_distinct(
    df: DataFrame,
    value_col: str,
    group_col: str,
    shard_col: Column | str,
    lgk: int = 12,
) -> DataFrame:
    """Mergeable distinct-count sketches: build one Apache DataSketches
    HLL per (group, shard), union the shards, estimate — the
    pre-aggregation pattern that makes 100 TB distinct counting
    incremental (daily partitions keep their sketch table; any date
    range is a cheap union of tiny binaries, never a re-scan).

    This is the capability ``approx_count_distinct`` alone lacks: its
    sketch state is internal. ``hll_sketch_agg`` emits the portable
    binary, ``hll_union_agg`` merges across any grouping. Estimates are
    approximate (not oracle-hashable); the accuracy envelope vs the
    exact count is asserted in pytest instead.

    Output: ``(group, n_shards, approx_distinct)``.
    """
    shard = F.col(shard_col) if isinstance(shard_col, str) else shard_col
    per_shard = df.groupBy(
        F.col(group_col).alias("grp"), shard.alias("_shard")
    ).agg(F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("_sk"))
    return per_shard.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("_sk"))).alias(
            "approx_distinct"
        ),
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (OLS slope + intercept) from
    the five classic sufficient statistics — the trend-profiling
    primitive ("tokens per character by language", "revenue per unit by
    segment") computed in ONE distributed pass, no per-group fitting.

    The sums (n, Σx, Σy, Σxy, Σx²) accumulate as exact BIGINTs
    (integer inputs; the caller scales decimals up-front), then
    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx)`` evaluates as ONE
    fixed-order double expression over those integers — doubles
    represent integers exactly below 2⁵³, so the result is
    bit-reproducible on any engine while the sums stay in that range
    (document the contract upstream; 100 TB magnitudes should pre-
    aggregate or scale down). Degenerate groups (n < 2 or zero
    x-variance) are dropped — 0/0 semantics differ across engines.

    Output: ``(group, n, slope, intercept)``.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    stats = df.groupBy(F.col(group_col).alias(group_col)).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        stats.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("_sxx") != F.col("_sx") * F.col("_sx"))
        )
        .withColumn("slope", slope)
        .select(
            group_col,
            "n",
            "slope",
            ((sy - F.col("slope") * sx) / n).alias("intercept"),
        )
    )


def contingency_profile(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Contingency (cross-tab) independence profile of two categorical
    columns: per cell, the observed count, the independence-expected
    count ``row_total · col_total / grand_total``, and the chi-square
    contribution ``(obs − exp)² / exp`` — the drift/association check
    between e.g. language and source shares of a corpus.

    Observed counts and all three totals are exact BIGINTs; expected
    and contribution are fixed per-row double expressions over them
    (bit-reproducible — never SUM the contributions into a single χ²
    across an unordered row set, that float total is order-dependent;
    rank or threshold the per-cell contributions instead). Three
    hash aggregates, marginals broadcast onto the cell table.

    Output: ``(row_val, col_val, observed, expected, contribution)``.
    """
    cells = df.groupBy(
        F.col(row_col).alias("row_val"), F.col(col_col).alias("col_val")
    ).agg(F.count("*").alias("observed"))
    rows = cells.groupBy("row_val").agg(F.sum("observed").alias("_rt"))
    cols = cells.groupBy("col_val").agg(F.sum("observed").alias("_ct"))
    total = cells.agg(F.sum("observed").alias("_gt"))
    exp = (
        F.col("_rt").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_gt").cast("double")
    )
    obs = F.col("observed").cast("double")
    return (
        cells.join(F.broadcast(rows), "row_val")
        .join(F.broadcast(cols), "col_val")
        .crossJoin(F.broadcast(total))
        .withColumn("expected", exp)
        .select(
            "row_val",
            "col_val",
            "observed",
            "expected",
            (
                (obs - F.col("expected"))
                * (obs - F.col("expected"))
                / F.col("expected")
            ).alias("contribution"),
        )
    )


def conversion_latency_deciles(
    events: DataFrame,
    start_type: str,
    end_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    n_buckets: int = 10,
) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from the FIRST
    ``start_type`` event to the first ``end_type`` event after it, then
    the converted population bucketed into latency deciles — the
    "how fast do users convert" product-analytics staple.

    Latencies are exact BIGINT seconds (timezone-proof field arithmetic
    on NTZ event time); deciles are ``ntile`` over (latency, user) — the
    user tiebreak makes the bucketing total, so an external engine
    reproduces bucket membership exactly. Per-bucket min/max/count are
    exact integers. Two user-keyed aggregates + one global window over
    the converted-user set (population-sized, not event-sized).

    Output: ``(decile, n_users, min_s, max_s)``.
    """
    from pyspark.sql.window import Window

    first_start = (
        events.filter(F.col(type_col) == start_type)
        .groupBy(F.col(user_col).alias("_u"))
        .agg(F.min(ts_col).alias("_t0"))
    )
    ends = events.filter(F.col(type_col) == end_type).select(
        F.col(user_col).alias("_u"), F.col(ts_col).alias("_t1")
    )
    conv = (
        ends.join(first_start, "_u")
        .filter(F.col("_t1") > F.col("_t0"))
        .groupBy("_u", "_t0")
        .agg(F.min("_t1").alias("_t1"))
    )
    # tz-proof per-column epoch seconds (same dispatch as _epoch_seconds:
    # NTZ gets pure field arithmetic, LTZ is already an epoch)
    def _ep(c: str) -> Column:
        if isinstance(conv.schema[c].dataType, T.TimestampNTZType):
            return (
                F.unix_date(F.col(c).cast("date")).cast("long") * 86400
                + F.hour(c) * 3600
                + F.minute(c) * 60
                + F.second(c)
            )
        return F.col(c).cast("timestamp").cast("long")

    lat = conv.select("_u", (_ep("_t1") - _ep("_t0")).alias("latency_s"))
    w = Window.orderBy("latency_s", "_u")
    return (
        lat.withColumn("decile", F.ntile(n_buckets).over(w).cast("long"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.min("latency_s").alias("min_s"),
            F.max("latency_s").alias("max_s"),
        )
    )


def cooccurrence_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
) -> DataFrame:
    """Market-basket co-occurrence lift between item pairs:
    ``lift(a,b) = n_baskets · n(a∧b) / (n(a) · n(b))`` over distinct
    per-basket item sets — association mining for event types, tags,
    categories (>1 = attract, <1 = repel).

    All counts are exact BIGINTs from three hash aggregates; the lift
    is one IEEE division of exact products. Pairs come from a per-
    basket self-join with ``a < b`` — at scale, bound the per-basket
    distinct-item count upstream (quota or top-k) exactly like every
    posting-list join in the dedup family; item-count marginals
    broadcast.

    Output: ``(item_a, item_b, n_both, n_a, n_b, n_baskets, lift)``.
    """
    items = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    # basket total stays IN the plan (1-row broadcast), never a driver count
    baskets = items.agg(F.count_distinct("_b").alias("n_baskets"))
    counts = items.groupBy("_i").agg(F.count("*").alias("_c"))
    a = items.select(F.col("_b"), F.col("_i").alias("item_a"))
    b = items.select(F.col("_b"), F.col("_i").alias("item_b"))
    pairs = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(counts.select(F.col("_i").alias("item_a"),
                                      F.col("_c").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(counts.select(F.col("_i").alias("item_b"),
                                      F.col("_c").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(baskets))
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            "n_baskets",
            (
                (F.col("n_baskets") * F.col("n_both")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


def proportion_ci(
    df: DataFrame,
    group_col: str,
    flag_col: Column | str,
    z: float = 1.96,
) -> DataFrame:
    """Per-group proportion with a Wilson score confidence interval —
    the monitoring statistic for pass rates (quality-filter keep rate,
    dedup hit rate, conversion share) that stays sane at small n and
    p near 0/1, where the naive normal interval escapes [0, 1].

    Successes and trials are exact BIGINTs from one hash aggregate;
    the interval is ONE fixed-order double expression over them
    (division, multiplication, and sqrt are all correctly-rounded IEEE
    operations, so the bounds are bit-reproducible on any engine —
    unlike ln/pow, which are not). Groups with n = 0 cannot occur
    (grouping implies membership); flag NULLs count as failures —
    pre-filter if NULL should mean not-applicable.

    Output: ``(group, n, successes, p, ci_lo, ci_hi)``.
    """
    flag = F.col(flag_col) if isinstance(flag_col, str) else flag_col
    agg = df.groupBy(F.col(group_col).alias(group_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("successes"),
    )
    n = F.col("n").cast("double")
    s = F.col("successes").cast("double")
    p = s / n
    z_ = F.lit(float(z))
    z2 = z_ * z_
    center = p + z2 / (F.lit(2.0) * n)
    margin = z_ * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1.0) + z2 / n
    return agg.select(
        group_col,
        "n",
        "successes",
        p.alias("p"),
        ((center - margin) / denom).alias("ci_lo"),
        ((center + margin) / denom).alias("ci_hi"),
    )


def largest_remainder_allocation(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    total_col: str,
    id_cols: list[str],
) -> DataFrame:
    """Exact integer proration (largest-remainder / Hamilton method):
    split each group's integer ``total_col`` across its rows in
    proportion to integer ``weight_col`` such that the shares are whole
    units and SUM EXACTLY to the total — the allocation problem behind
    revenue attribution, budget spread, and seat apportionment, where
    naive round(T·w/W) leaks or overshoots cents.

    Each row gets ``floor(T·w/W)``; the leftover ``T − Σfloor`` units
    (always < group size) go one each to the rows with the largest
    remainders ``(T·w) mod W``, ties broken by ``id_cols`` — every step
    is BIGINT math, so the allocation is bit-identical on any engine.
    ``total_col`` must be constant within a group (the caller's
    contract; it rides along the group key).

    Plan: one group aggregate for ``W``, broadcast back, one window
    rank per group over remainders. Output: input id/group columns +
    ``(weight, allocated)``.
    """
    from pyspark.sql.window import Window

    w_sum = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.sum(F.col(weight_col).cast("long")).alias("_W")
    )
    base = df.select(
        F.col(group_col),
        *[F.col(c) for c in id_cols],
        F.col(weight_col).cast("long").alias("weight"),
        F.col(total_col).cast("long").alias("_T"),
    ).join(w_sum, F.col(group_col) == F.col("_g")).drop("_g")
    # `div` is Spark's INTEGRAL division — floor(a/b) on doubles would
    # corrupt quotients once T·w exceeds 2^53
    base = base.withColumn(
        "_floor", F.expr("(_T * weight) div _W").cast("long")
    ).withColumn("_rem", F.expr("(_T * weight) % _W"))
    grp_w = Window.partitionBy(group_col)
    rank_w = Window.partitionBy(group_col).orderBy(
        F.col("_rem").desc(), *[F.col(c) for c in id_cols]
    )
    return (
        base.withColumn("_deficit", F.col("_T") - F.sum("_floor").over(grp_w))
        .withColumn("_r", F.row_number().over(rank_w))
        .select(
            group_col,
            *id_cols,
            "weight",
            (
                F.col("_floor")
                + F.when(F.col("_r") <= F.col("_deficit"), 1).otherwise(0)
            ).cast("long").alias("allocated"),
        )
    )


def k_anonymity_audit(
    df: DataFrame,
    qi_cols: list[Column | str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: how many
    QI equivalence classes fall below ``k`` members, and what share of
    rows a release would have to suppress — the privacy gate before
    sharing user-derived training data or analytics extracts.

    One QI-keyed hash aggregate + a 1-row rollup; all counts exact
    BIGINTs, the suppressed share one IEEE division. NULL QI values
    form their own class (NULL patterns re-identify too).

    Output 1 row: ``(k, n_rows, n_classes, n_violating_classes,
    n_suppressed_rows, suppressed_frac)``.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in qi_cols]
    classes = df.groupBy(*cols).agg(F.count("*").alias("_n"))
    return classes.agg(
        F.lit(k).cast("long").alias("k"),
        F.sum("_n").cast("long").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.sum(F.when(F.col("_n") < k, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_suppressed_rows"),
    ).select(
        "*",
        (
            F.col("n_suppressed_rows").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("suppressed_frac"),
    )


def l_diversity_audit(
    df: DataFrame,
    qi_cols: list[Column | str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit: k-anonymity's complement — a QI equivalence
    class with enough MEMBERS can still leak if they all share one
    SENSITIVE value, so each class must contain at least ``l`` distinct
    sensitive values (Machanavajjhala et al.). Run it next to
    ``k_anonymity_audit`` before releasing user-derived data.

    One QI-keyed hash aggregate (exact COUNT DISTINCT of the sensitive
    column — Spark plans the distinct as a two-phase expand, no
    driver state) + a 1-row rollup; one IEEE division for the share.
    NULL sensitive values count as one value (a class of all-NULLs
    discloses the NULL pattern itself).

    Output 1 row: ``(l, n_rows, n_classes, n_violating_classes,
    n_exposed_rows, exposed_frac)``.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in qi_cols]
    # NULL counts as one distinct value: count_distinct skips NULLs, so
    # add the class's has-null flag (no string sentinel to collide with)
    classes = df.groupBy(*cols).agg(
        F.count("*").alias("_n"),
        (
            F.count_distinct(F.col(sensitive_col))
            + F.max(F.col(sensitive_col).isNull().cast("long"))
        ).alias("_d"),
    )
    return classes.agg(
        F.lit(l).cast("long").alias("l"),
        F.sum("_n").cast("long").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.sum(F.when(F.col("_d") < l, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("_d") < l, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_exposed_rows"),
    ).select(
        "*",
        (
            F.col("n_exposed_rows").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("exposed_frac"),
    )


def interval_union_time(
    df: DataFrame,
    user_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Total COVERED time per user from possibly-overlapping intervals
    (the union-of-intervals / gaps-and-islands problem): overlapping
    sessions must not double-count — naive ``sum(end − start)`` over-
    reports engagement whenever activities overlap.

    Classic cumulative-max island detection, all in exact BIGINT epoch
    seconds (tz-proof NTZ field arithmetic): an interval starts a new
    island when its start exceeds the running max end of everything
    before it; per-island coverage is ``max(end) − min(start)``. Two
    user-keyed windows + two aggregates — shuffles only on the user
    key; per-user state is one running BIGINT.

    Output: ``(user, n_intervals, n_islands, covered_s)``.
    """
    from pyspark.sql.window import Window

    def _ep(c: str, d: DataFrame) -> Column:
        if isinstance(d.schema[c].dataType, T.TimestampNTZType):
            return (
                F.unix_date(F.col(c).cast("date")).cast("long") * 86400
                + F.hour(c) * 3600 + F.minute(c) * 60 + F.second(c)
            )
        return F.col(c).cast("timestamp").cast("long")

    base = df.select(
        F.col(user_col).alias("_u"),
        _ep(start_col, df).alias("_s"),
        _ep(end_col, df).alias("_e"),
    )
    order_w = Window.partitionBy("_u").orderBy("_s", "_e")
    prev_max = F.max("_e").over(
        order_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = base.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "_island",
        F.sum("_new").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("_u", "_island").agg(
        F.count("*").alias("_cnt"),
        (F.max("_e") - F.min("_s")).alias("_cov"),
    )
    return per_island.groupBy(F.col("_u").alias("user")).agg(
        F.sum("_cnt").cast("long").alias("n_intervals"),
        F.count("*").alias("n_islands"),
        F.sum("_cov").cast("long").alias("covered_s"),
    )


def trailing_distinct_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Rolling distinct-actives (the DAU/WAU/MAU family): for every
    calendar day with activity, the EXACT count of distinct users
    active in the trailing ``window_days`` window ending that day.

    Distinct counting does not decompose over sliding windows (a user
    active twice must count once), so the exact form is a range join:
    the (user, day) distinct activity table joins the day spine on
    ``day - w < active_day <= day``, then one distinct count per day.
    Cost is bounded by |distinct days| × |active pairs in window| —
    at corpus scale cap the spine (report the last N days) or switch
    to the mergeable-HLL path (:func:`hll_merged_distinct`) and accept
    the documented error envelope; both knobs are standard for this
    metric.

    Output: ``(day, n_active_users)``.
    """
    activity = events.select(
        F.col(user_col).alias("_u"), F.to_date(ts_col).alias("_d")
    ).distinct()
    days = activity.select(F.col("_d").alias("day")).distinct()
    joined = days.join(
        activity,
        (F.col("_d") > F.date_sub(F.col("day"), window_days))
        & (F.col("_d") <= F.col("day")),
    )
    return joined.groupBy("day").agg(
        F.count_distinct("_u").alias("n_active_users")
    )


def group_median_impute(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """NULL imputation with the group's exact lower median — the
    deterministic repair step for numeric features (a mean imputation
    drags on outliers and is float-order-dependent; the lower median
    of the non-NULL values is exact and engine-portable).

    Medians come from the same integer half-count rule as
    :func:`weighted_median` (every non-NULL value weighs 1), broadcast
    back onto the rows. Groups that are entirely NULL stay NULL —
    there is nothing to impute from, and inventing a global fallback
    silently mixes distributions (callers chain a second pass if they
    want one).

    Output: input columns + ``(value_imputed, was_imputed)``.
    """
    from pyspark.sql.window import Window

    nn = df.filter(F.col(value_col).isNotNull())
    per_val = nn.groupBy(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).agg(F.count("*").alias("_w"))
    cum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("_g")
    med = (
        per_val.withColumn("_cum", F.sum("_w").over(cum))
        .withColumn("_tot", F.sum("_w").over(tot))
        .filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy("_g")
        .agg(F.min("_v").alias("_med"))
    )
    out = df.join(
        F.broadcast(med), df[group_col] == med["_g"], "left"
    ).drop("_g")
    return out.select(
        *df.columns,
        F.coalesce(F.col(value_col), F.col("_med")).alias("value_imputed"),
        (F.col(value_col).isNull() & F.col("_med").isNotNull()).alias(
            "was_imputed"
        ),
    )


def trailing_ema(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    k: int = 4,
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Truncated exponential moving average per key: each row's EMA is
    the fixed-order weighted sum of its own value and its ``k−1``
    predecessors with weights ``α·(1−α)^i`` (α = ``alpha_num/
    alpha_den``), normalized over the k terms — the smoothing feature
    of time-series modeling, made engine-portable by TRUNCATION: the
    textbook recursive EMA accumulates float error in an order no
    second engine can replay, while a fixed k-term expression with
    literal weights is one deterministic arithmetic tree.

    Rows with fewer than ``k−1`` predecessors emit NULL (warm-up) —
    renormalizing over partial windows silently mixes a different
    estimator into the series head. One window per key; lag state is
    ``k`` values.

    Output: input columns + ``ema`` (double).
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("trailing_ema: k must be >= 1")
    alpha = alpha_num / alpha_den
    raw = [alpha * (1.0 - alpha) ** i for i in range(k)]
    tot = sum(raw)
    weights = [w / tot for w in raw]
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    v = F.col(value_col).cast("double")
    terms = None
    for i, wt in enumerate(weights):
        t = (v if i == 0 else F.lag(v, i).over(w)) * F.lit(wt)
        terms = t if terms is None else terms + t
    return df.withColumn("ema", terms)


def churn_labels(
    events: DataFrame,
    cutoff: str,
    horizon_days: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Supervised churn-label generation: for every user active BEFORE
    the cutoff, did they go silent for the whole ``horizon_days``
    observation window after it? The label-building step of every
    churn/retention model — and the step teams most often get wrong by
    letting post-cutoff activity leak into the features.

    The feature side (activity counts, recency at cutoff) aggregates
    ONLY pre-cutoff events; the label side only reads the observation
    window; users first seen after the cutoff are excluded (they have
    no features). All exact: BIGINT counts, whole-day recency, boolean
    label via left-anti semantics (left join + NULL test). Two
    user-keyed aggregates + one key join.

    Output: ``(user, n_events_before, recency_days_at_cutoff,
    churned)``.
    """
    cut = F.to_date(F.lit(cutoff))
    before = events.filter(F.to_date(ts_col) < cut)
    features = before.groupBy(F.col(user_col).alias("user")).agg(
        F.count("*").alias("n_events_before"),
        F.datediff(cut, F.max(F.to_date(ts_col)))
        .cast("long")
        .alias("recency_days_at_cutoff"),
    )
    active_after = (
        events.filter(
            (F.to_date(ts_col) >= cut)
            & (F.to_date(ts_col) < F.date_add(cut, horizon_days))
        )
        .select(F.col(user_col).alias("_u"))
        .distinct()
    )
    return (
        features.join(active_after, features["user"] == active_after["_u"], "left")
        .select(
            "user",
            "n_events_before",
            "recency_days_at_cutoff",
            F.col("_u").isNull().alias("churned"),
        )
    )


def loo_target_encoding(
    df: DataFrame,
    category_col: str,
    target_col: str,
    decimal_type: str = "decimal(28,6)",
) -> DataFrame:
    """Leave-one-out target encoding: each row's category encodes as
    the mean target of the OTHER rows in its category,
    ``(Σy − y_own) / (n − 1)`` — the leakage-safe form (a plain
    category mean lets every row see its own label, inflating
    validation scores). Singleton categories encode NULL (no other
    rows to learn from; imputing a global prior is a modeling choice
    the caller makes explicitly).

    The category sums accumulate in DECIMAL, the numerator subtracts
    exactly, and the one IEEE division per row is bit-reproducible.
    One category-keyed aggregate broadcast back onto the rows — a
    projection at any scale.

    Output: input columns + ``(target_loo)``.
    """
    y = F.col(target_col).cast(decimal_type)
    stats = df.groupBy(F.col(category_col).alias("_c")).agg(
        F.sum(y).alias("_sum"), F.count(target_col).alias("_n")
    )
    out = df.join(
        F.broadcast(stats), df[category_col] == stats["_c"]
    ).drop("_c")
    return out.select(
        *df.columns,
        F.when(
            F.col("_n") > 1,
            (F.col("_sum") - y).cast("double")
            / (F.col("_n") - 1).cast("double"),
        ).alias("target_loo"),
    )


def ab_test_ztest(
    events: DataFrame,
    success_expr: Column,
    user_col: str = "user_id",
    salt: str = "ab",
) -> DataFrame:
    """Two-proportion z-test for an A/B split: users assign to variants
    by md5 parity of their id (deterministic, engine-portable — the
    same hash-bucket discipline as every sampler here), per-user
    success is ``success_expr`` (any 0/1 aggregate over the user's
    events), and the variant rates compare via the pooled z statistic.
    The experiment-analysis primitive. Zero-variance pools (success
    rate 0 or 1 overall) emit a NULL z — the statistic is undefined
    there, not infinite.

    Counts are exact BIGINTs from one per-user flag aggregate; the z
    statistic is one fixed-order double expression (div/mul/sqrt —
    correctly-rounded IEEE), so even the test statistic hashes
    bit-for-bit. Significance thresholds stay with the caller (a
    p-value needs erf, whose libm rounding is NOT portable — compare
    |z| against a literal critical value instead).

    Output 1 row: ``(n_a, conv_a, n_b, conv_b, p_a, p_b, z)``.
    """
    from hiv_data_integration_spark.operators.sampling import hash_bucket

    per_user = events.groupBy(F.col(user_col).alias("_u")).agg(
        success_expr.alias("_conv")
    )
    tagged = per_user.withColumn(
        "_v", hash_bucket(F.col("_u"), salt=salt) % 2
    )
    agg = tagged.agg(
        F.sum(F.when(F.col("_v") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("_v") == 0, F.col("_conv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("_v") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("_v") == 1, F.col("_conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (na + nb)
    # z is undefined at pool 0 or 1 (zero variance — e.g. every user
    # converted); emit NULL instead of an ANSI divide-by-zero
    z = F.when(
        (F.col("conv_a") + F.col("conv_b") > 0)
        & (F.col("conv_a") + F.col("conv_b") < F.col("n_a") + F.col("n_b")),
        (pa - pb)
        / F.sqrt(
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / na + F.lit(1.0) / nb)
        ),
    )
    return agg.select(
        "n_a", "conv_a", "n_b", "conv_b",
        pa.alias("p_a"), pb.alias("p_b"), z.alias("z"),
    )


def sequence_bigram_support(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: list[str] = ("ts",),
    k: int = 10,
) -> DataFrame:
    """Sequential-pattern support mining (length-2): how many DISTINCT
    users ever do X immediately followed by Y — the support measure of
    classic sequence mining, which :func:`event_transitions` does NOT
    give (it counts transitions; a single hyperactive user can dominate
    frequencies, while support counts each user once per pattern).

    Per-user adjacent pairs come from one ordered lag window, collapse
    to distinct (user, pair), then a pair-keyed distinct-user count and
    a total top-k with deterministic ties. All shuffles keyed by user
    or pair. Output: ``(rank, from_type, to_type, n_users, support)``
    with support = one IEEE division by the distinct-user total.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    pairs = (
        events.withColumn("_next", F.lead(type_col).over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            F.col(user_col).alias("_u"),
            F.col(type_col).alias("from_type"),
            F.col("_next").alias("to_type"),
        )
        .distinct()
    )
    totals = events.agg(
        F.count_distinct(user_col).alias("_n_users_total")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_users")
    )
    rank_w = Window.orderBy(
        F.col("n_users").desc(), F.col("from_type"), F.col("to_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "from_type",
            "to_type",
            "n_users",
            (
                F.col("n_users").cast("double")
                / F.col("_n_users_total").cast("double")
            ).alias("support"),
        )
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: Column | str,
    n_bins: int = 10,
    score_max: float = 100.0,
) -> DataFrame:
    """Reliability-diagram (calibration) bins for a bounded score
    against a binary outcome: per equal-width score bin, the exact
    positive rate and the mean score — the model-evaluation primitive
    behind calibration curves and ECE (sum the per-bin gaps yourself,
    in a defined order; a float total over unordered bins is not
    reproducible, the per-bin rows are).

    Bin index via floor-of-double on the normalized score (identical
    IEEE on every engine — never a decimal cast, whose rounding
    direction differs between engines); the top boundary folds into
    the last bin. Mean score accumulates in DECIMAL before its one
    double division. One hash aggregate on an ``n_bins``-sized key.

    Output: ``(bin, n, n_pos, pos_rate, mean_score)``.
    """
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    s = F.col(score_col).cast("double")
    b = F.least(
        F.floor(s * F.lit(float(n_bins)) / F.lit(float(score_max))),
        F.lit(n_bins - 1),
    ).cast("long")
    base = df.select(
        b.alias("bin"),
        s.alias("_s"),
        F.when(lab, 1).otherwise(0).alias("_y"),
    )
    return base.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
        (
            F.sum("_y").cast("double") / F.count("*").cast("double")
        ).alias("pos_rate"),
        (
            F.sum(F.col("_s").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mean_score"),
    )


def ntz_epoch_micros(ts_col: str | Column) -> Column:
    """Exact epoch microseconds from a TIMESTAMP_NTZ column via field
    arithmetic — timezone-independent by construction (never casts NTZ
    to a zoned timestamp, so a hostile non-UTC session cannot shift
    it). ``extract(second from ts)`` carries the fraction as
    DECIMAL(8,6), so the microsecond part is exact integer math, not
    the truncating NTZ second field (COVERAGE.md cross-engine trap).
    DuckDB twin: ``epoch_us(ts)``."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return (
        F.unix_date(c.cast("date")).cast("long") * F.lit(86_400_000_000)
        + F.hour(c).cast("long") * F.lit(3_600_000_000)
        + F.minute(c).cast("long") * F.lit(60_000_000)
        + (F.expr(f"extract(second from {ts_col})") * 1_000_000).cast("long")
    )


def ohlc_downsample(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Time-bucket OHLC resampling: per key × 1-``bucket`` tumbling
    window emit open (value at earliest (ts, id)), high, low, close
    (value at latest (ts, id)), exact row count, and DECIMAL-
    accumulated volume — the classic downsample that turns raw event
    streams into bar series.

    Scale shape: one hash aggregation, fully partial+final — ``min_by``
    / ``max_by`` combine map-side like min/max, so 100 TB of events
    never sorts. The order key packs (epoch_micros, id) into one
    fixed-width lexicographic string because the tiebreak must be a
    SINGLE orderable value for map-side combine on both engines
    (DuckDB's ``arg_min`` takes scalar keys only); ``id_col`` must be
    unique so open/close are deterministic under any partitioning.
    """
    k = F.concat(
        F.lpad(ntz_epoch_micros(ts_col).cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )
    v = F.col(value_col).cast("double")
    # bucket via F.window(...).start, NOT date_trunc: date_trunc coerces
    # NTZ through the session timezone (a hostile non-UTC session shifts
    # bar boundaries), while window() truncates NTZ in place
    base = df.select(
        *keys,
        F.window(F.col(ts_col), f"1 {bucket}").start.alias("bucket_ts"),
        v.alias("_v"),
        k.alias("_k"),
    )
    return base.groupBy(*keys, "bucket_ts").agg(
        F.min_by("_v", "_k").alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.max_by("_v", "_k").alias("close"),
        F.count("*").alias("n"),
        F.sum(F.col("_v").cast("decimal(28,6)")).cast("double").alias(
            "volume"
        ),
    )


def grouped_mode(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group mode with a DETERMINISTIC tiebreak: highest count
    wins, ties broken by smallest value — unlike SQL ``mode()`` whose
    tie winner is engine- and partitioning-dependent (why the oracle
    twin is spelled as count + ROW_NUMBER, not ``mode()``). The
    majority-label aggregation curation pipelines use to collapse
    conflicting annotations per document.

    Two hash aggregations: (key, value) counts combine map-side first,
    so the window ranks |distinct values| rows per key, not raw rows.
    Output: keys + ``mode_value`` + ``n_mode``.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("n_mode"))
    w = Window.partitionBy(*keys).orderBy(
        F.col("n_mode").desc(), F.col(value_col).asc()
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *keys,
            F.col(value_col).alias("mode_value"),
            F.col("n_mode"),
        )
    )


def time_weighted_average(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Time-weighted average (TWAP): each observation holds until the
    SAME key's next observation, and the bucket average weights values
    by exactly how long they held — the downsample that is correct for
    irregular event streams where a plain AVG over-counts bursts
    (reference-style period rollups assume regular sampling; this is
    the irregular-stream generalization).

    Semantics contract (documented, not configurable): observations
    order by the unique ``(ts, id)`` pair, so same-instant peers are
    deterministic and contribute zero-length intervals; each interval
    is assigned WHOLE to the bucket its start falls in (no clipping at
    bucket edges); a key's final observation has no successor and is
    excluded (``n_intervals`` counts the rest). Buckets whose total
    duration is 0 (all same-instant) emit NULL — never an engine-
    specific 0/0.

    Bit-exactness: durations are exact epoch-microsecond longs
    (``ntz_epoch_micros``); value×duration products accumulate as
    DECIMAL(38,6) (value at DECIMAL(18,6) × micros at DECIMAL(19,0) —
    exact, no float order-dependence); ONE final IEEE double division
    per group.

    Scale shape: one window shuffle on the keys (lead), then one hash
    aggregate that AQE plans off the same partitioning — values never
    sort globally, and per-group state is two DECIMAL accumulators.

    Output: keys + ``bucket_ts`` + ``twap`` (double|NULL) +
    ``held_micros`` (long) + ``n_intervals`` (long).
    """
    from pyspark.sql.window import Window

    epoch = ntz_epoch_micros(ts_col)
    w = Window.partitionBy(*keys).orderBy(epoch, F.col(id_col))
    dur = (F.lead(epoch).over(w) - epoch).alias("_dur")
    base = (
        df.select(
            *keys,
            # window().start, not date_trunc — NTZ-safe truncation (see
            # ohlc_downsample)
            F.window(F.col(ts_col), f"1 {bucket}").start.alias("bucket_ts"),
            F.col(value_col).cast("decimal(18,6)").alias("_v"),
            dur,
        )
        .filter(F.col("_dur").isNotNull())
    )
    vw = F.sum(F.col("_v") * F.col("_dur").cast("decimal(19,0)"))
    sw = F.sum(F.col("_dur"))
    return base.groupBy(*keys, "bucket_ts").agg(
        F.when(
            sw > 0, (vw.cast("double") / sw.cast("double"))
        ).alias("twap"),
        sw.cast("long").alias("held_micros"),
        F.count("*").cast("long").alias("n_intervals"),
    )


def segmented_running_total(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    reset_col: str | Column,
) -> DataFrame:
    """Running total that RESETS: within each key, accumulate
    ``value_col`` in ``order_cols`` order, restarting from zero at every
    row where ``reset_col`` is true (that row starts — and is included
    in — its segment). The balance-with-reset shape: meter readings
    after replacement, session spend after re-login, counters after
    redeploy.

    Classic two-window formulation: segment id = running count of reset
    flags (rows frame), then the running DECIMAL sum within
    ``(keys, segment)``. ``order_cols`` MUST be unique per key — with
    duplicates, ROWS-frame prefix sums are partition-order-dependent
    and no external oracle can reproduce them.

    Scale shape: two window shuffles — the second partitions on the
    strictly finer ``(keys, segment)`` key, which is inherent to the
    operator (the segment boundary is itself a running computation).
    Both are per-key sequential scans; no self-join, no explosion.
    Sums accumulate as DECIMAL(28,6) and emit one final double.

    Output: input columns + ``segment`` (long, 1-based per key) +
    ``running_value`` (double).
    """
    from pyspark.sql.window import Window

    reset = (
        F.col(reset_col) if isinstance(reset_col, str) else reset_col
    ).cast("boolean")
    order = [F.col(c) for c in order_cols]
    w_seg = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn(
        "segment", F.sum(reset.cast("long")).over(w_seg)
    )
    w_run = (
        Window.partitionBy(*keys, "segment")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return out.withColumn(
        "running_value",
        F.sum(F.col(value_col).cast("decimal(28,6)")).over(w_run)
        .cast("double"),
    )


def gini_impurity_profile(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Per-column Gini impurity profile: 1 − Σ(cᵢ/N)² over each
    column's value distribution — the concentration/diversity screen
    (near 0 = one value dominates, near 1 − 1/k = uniform) run before
    choosing stratification keys, spotting collapsed feature columns,
    or monitoring label drift. Chosen over Shannon entropy because
    Gini is a RATIONAL statistic: transcendental ``ln`` in hashed
    output is engine-ULP-dependent (repo float rules), while
    ``(N² − Σcᵢ²)/N²`` is exact until one final IEEE division.

    One pipeline for all columns: unpivot to (column, value) → count →
    per-column rollup (2 hash-aggregate shuffles total, not 2×|cols|
    jobs). Values compare as strings; NULL is its own category.
    Σcᵢ² accumulates as DECIMAL(38,0) — exact far past any row count.

    Output: one row per profiled column —
    ``(column, n_rows, n_distinct, max_count, gini)``.
    """
    if not cols:
        raise ValueError("gini_impurity_profile: need cols")
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("_p")
    ).select("_p.column", "_p.value")
    counts = pairs.groupBy("column", "value").agg(F.count("*").alias("_c"))
    n = F.sum("_c").cast("decimal(38,0)")
    sumsq = F.sum(
        F.col("_c").cast("decimal(19,0)") * F.col("_c").cast("decimal(19,0)")
    )
    return counts.groupBy("column").agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.count("*").alias("n_distinct"),
        F.max("_c").cast("long").alias("max_count"),
        (
            (n * n - sumsq).cast("double") / (n * n).cast("double")
        ).alias("gini"),
    )


def roc_auc_exact(
    df: DataFrame,
    label_col: str | Column,
    score_col: str,
) -> DataFrame:
    """EXACT ROC-AUC via the Mann–Whitney U statistic with the
    standard tie correction — the model-eval metric computed over the
    full prediction set, not a sampled curve. AUC = P(score⁺ > score⁻)
    + ½P(score⁺ = score⁻), which over per-distinct-score counts is
    Σₛ n₊(s)·(2·cum_n₋(<s) + n₋(s)) / (2·P·N): every term an exact
    BIGINT (the ×2 absorbs the half-credit for ties), then ONE IEEE
    division — bit-identical on any engine or partitioning, unlike
    trapezoid integration over a float curve.

    Scale shape: one hash aggregate to per-distinct-score counts, then
    an ordered prefix sum over DISTINCT scores — the window's input is
    |distinct scores| rows, not |rows| (quantize scores upstream if
    they are continuous and unbounded, e.g. round to 6 digits; the
    statistic is then exact for the quantized scores). NULL labels or
    scores are excluded. Degenerate single-class input yields NULL.

    Output 1 row: ``(n_pos, n_neg, u2, auc)`` where ``u2`` = 2·U.
    """
    from pyspark.sql.window import Window

    lab = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("boolean")
    s = df.filter(
        lab.isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(score_col).alias("_s"), lab.cast("long").alias("_y")
    )
    per_score = s.groupBy("_s").agg(
        F.sum("_y").alias("_np"),
        F.sum(F.lit(1) - F.col("_y")).alias("_nn"),
    )
    w = (
        Window.orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    terms = per_score.select(
        "_np",
        "_nn",
        (
            F.col("_np")
            * (
                2 * (F.sum("_nn").over(w) - F.col("_nn"))
                + F.col("_nn")
            )
        ).alias("_t"),
    )
    return terms.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        F.sum("_nn").cast("long").alias("n_neg"),
        F.sum("_t").cast("long").alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("u2").cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
        ).alias("auc"),
    )


def group_zscore_outliers(
    df: DataFrame,
    group_cols: list[Column | str],
    value_col: str,
    k: int = 3,
    cent_scale: int = 100,
) -> DataFrame:
    """Per-group z-score outlier flags WITHOUT any float statistics:
    flag rows where (x − μ)² > k²·σ² via the cross-multiplied integer
    form (n·x − S₁)² > k²·(n·S₂ − S₁²) — exact seasonal-baseline
    anomaly detection (metric per weekday, value per segment) whose
    flags cannot flip with aggregation order, unlike float μ/σ.

    Values are fixed-point-scaled to integers first (``cent_scale``,
    default cents) via ``floor(v·scale + 0.5)`` — the one rounding,
    identical IEEE arithmetic on every engine; all sums and the two
    comparison sides are then exact (sums as BIGINT, the final squares
    as DECIMAL(38,0) — n·x up to ~1e14 squares past int64).
    Zero-variance groups flag nothing (σ = 0 means no evidence, not
    everything-anomalous); NULL values are excluded.

    One grouped aggregate broadcast back onto the rows (plus the flag
    arithmetic) — two shuffles, no window, no sort.

    Output: input columns + ``n_group`` (long) + ``is_outlier``
    (boolean).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    names = [f"_g{i}" for i in range(len(cols))]
    xc = F.floor(
        F.col(value_col).cast("double") * cent_scale + F.lit(0.5)
    ).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        "*", *[c.alias(n) for c, n in zip(cols, names)], xc.alias("_xc")
    )
    stats = base.groupBy(*names).agg(
        F.count("*").alias("_n"),
        F.sum("_xc").alias("_s1"),
        F.sum(
            F.col("_xc").cast("decimal(19,0)")
            * F.col("_xc").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("_s2"),
    )
    j = base.join(stats, names)
    dev = (
        F.col("_n").cast("decimal(19,0)") * F.col("_xc").cast("decimal(19,0)")
        - F.col("_s1").cast("decimal(19,0)")
    ).cast("decimal(19,0)")
    lhs = dev * dev
    rhs = F.lit(k * k).cast("decimal(19,0)") * (
        F.col("_n").cast("decimal(19,0)") * F.col("_s2")
        - F.col("_s1").cast("decimal(19,0)")
        * F.col("_s1").cast("decimal(19,0)")
    )
    return j.select(
        *[c for c in df.columns],
        F.col("_n").cast("long").alias("n_group"),
        (lhs > rhs).alias("is_outlier"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Kaplan–Meier survival curve with right censoring — time-to-event
    analytics (churn, time-to-conversion, component lifetime) computed
    distributed: S(tᵢ) = Π_{j≤i} (1 − dⱼ/nⱼ) over the distinct event
    times, where nⱼ counts subjects still at risk (duration ≥ tⱼ;
    subjects censored AT tⱼ are still at risk, the standard
    convention).

    Bit-reproducible floats without transcendentals: dⱼ, nⱼ are exact
    integers, each factor is ONE IEEE division, and the product folds
    LEFT-TO-RIGHT over the time-ordered factor array (``F.aggregate``
    over a sorted ``collect_list``) — a fixed evaluation order an
    external engine replays factor-for-factor (cumulative products via
    exp/log would be engine-ULP-dependent).

    Scale shape: one (group, duration) hash aggregate, one window over
    DISTINCT durations per group (reverse prefix sum = risk set), then
    per-group state of |distinct event times| structs — bounded by the
    time resolution, not the subject count. The O(k²) prefix folds run
    per group on k = distinct event times.

    Output: group cols + ``(t, n_risk, d_events, survival)`` rows.
    """
    from pyspark.sql.window import Window

    g = list(group_cols or [])
    dur = F.col(duration_col).cast("long")
    ev = F.col(event_col).cast("boolean").cast("long")
    base = df.filter(dur.isNotNull() & ev.isNotNull()).select(
        *g, dur.alias("_t"), ev.alias("_e")
    )
    per_t = base.groupBy(*g, "_t").agg(
        F.count("*").alias("_c"), F.sum("_e").alias("_d")
    )
    w_risk = (
        Window.partitionBy(*g)
        .orderBy(F.col("_t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per_t.withColumn("_n", F.sum("_c").over(w_risk)).filter(
        F.col("_d") > 0
    )
    arr = risk.groupBy(*g).agg(
        F.array_sort(
            F.collect_list(F.struct("_t", "_n", "_d"))
        ).alias("_arr")
    )
    factor = lambda x: F.lit(1.0) - (  # noqa: E731
        x.getField("_d").cast("double") / x.getField("_n").cast("double")
    )
    exploded = arr.select(
        *g, F.posexplode("_arr").alias("_i", "_x"), F.col("_arr")
    )
    return exploded.select(
        *g,
        F.col("_x._t").alias("t"),
        F.col("_x._n").cast("long").alias("n_risk"),
        F.col("_x._d").cast("long").alias("d_events"),
        F.aggregate(
            F.slice(F.col("_arr"), 1, F.col("_i") + 1),
            F.lit(1.0),
            lambda acc, x: acc * factor(x),
        ).alias("survival"),
    )


def mann_kendall_trend(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    z_crit_sq_num: int = 9604,
    z_crit_sq_den: int = 2500,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test per series — the standard
    nonparametric "is this metric drifting" check, computed EXACTLY:
    S = Σ_{i<j} sign(xⱼ − xᵢ) is an integer, the tie-corrected variance
    is the integer ``var18`` = n(n−1)(2n+5) − Σₜ tₚ(tₚ−1)(2tₚ+5) (the
    /18 deferred), and the two-sided significance at z_crit is decided
    by the cross-multiplied ALL-INTEGER inequality
    ``den·18·(|S|−1)² > num·var18`` (default z²=1.96² as the exact
    rational 9604/2500, continuity-corrected) — no sqrt, no normal CDF,
    no float that could flip a verdict.

    Scale contract: the pairwise self-join is O(n²) per series on n =
    points per series — run it on RESOLUTION-BOUNDED series (daily/
    hourly rollups, n in the hundreds), which is exactly the drift-
    monitoring shape; it is not a raw-event operator.

    Output per group: ``(n_points, s_stat, var18, is_significant,
    trend)`` where trend ∈ {-1, 0, 1} = sign(S) gated on significance.
    """
    v = F.col(value_col)
    base = df.filter(
        v.isNotNull() & F.col(order_col).isNotNull()
    ).select(*group_cols, F.col(order_col).alias("_t"), v.alias("_x"))
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(b, group_cols).filter(F.col("a._t") < F.col("b._t"))
    s_df = pairs.groupBy(*group_cols).agg(
        F.sum(F.signum(F.col("b._x") - F.col("a._x")).cast("long"))
        .alias("s_stat")
    )
    n_df = base.groupBy(*group_cols).agg(F.count("*").alias("n_points"))
    tie_term = lambda c: c * (c - 1) * (2 * c + 5)  # noqa: E731
    ties = (
        base.groupBy(*group_cols, "_x")
        .agg(F.count("*").alias("_tp"))
        .groupBy(*group_cols)
        .agg(F.sum(tie_term(F.col("_tp"))).alias("_tie18"))
    )
    out = (
        n_df.join(s_df, group_cols)
        .join(ties, group_cols)
        .select(
            *group_cols,
            "n_points",
            "s_stat",
            (
                tie_term(F.col("n_points").cast("long"))
                - F.col("_tie18")
            ).alias("var18"),
        )
    )
    abs_s = F.abs(F.col("s_stat"))
    sig = (F.col("s_stat") != 0) & (
        F.lit(z_crit_sq_den * 18) * (abs_s - 1) * (abs_s - 1)
        > F.lit(z_crit_sq_num) * F.col("var18")
    )
    return out.select(
        "*",
        sig.alias("is_significant"),
        F.when(sig, F.signum(F.col("s_stat")).cast("int"))
        .otherwise(F.lit(0))
        .alias("trend"),
    )


def cusum_change_detection(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    cent_scale: int = 100,
) -> DataFrame:
    """CUSUM change-point scan per series (Page's cumulative-sum chart,
    offline form): D_k = n·P_k − k·S₁ is the mean-centered prefix
    deviation SCALED BY n so it stays an exact integer (values fixed-
    point-scaled once via floor(v·scale+0.5)); the change point is the
    k maximizing |D_k| and the drift magnitude is the exact integer
    range max(D) − min(D). Floats appear only in the final normalized
    ``cusum_range`` = range/(n·scale) — two fixed-order IEEE ops.

    ``order_col`` must be unique per group (prefix sums are otherwise
    irreproducible). One window pass + one group aggregate; like the
    MK test this is a resolution-bounded series operator, though here
    the scan is O(n) per series, not O(n²).

    Output per group: ``(n_points, d_max, d_min, cusum_range,
    t_change)`` — ``t_change`` the order value at max |D| (ties →
    smallest order value).
    """
    from pyspark.sql.window import Window

    xc = F.floor(
        F.col(value_col).cast("double") * cent_scale + F.lit(0.5)
    ).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols,
        F.col(order_col).cast("long").alias("_t"),
        xc.alias("_xc"),
    )
    w_pre = (
        Window.partitionBy(*group_cols)
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    with_d = base.select(
        *group_cols,
        "_t",
        (
            F.count("*").over(w_all) * F.sum("_xc").over(w_pre)
            - F.row_number().over(
                Window.partitionBy(*group_cols).orderBy("_t")
            ).cast("long")
            * F.sum("_xc").over(w_all)
        ).alias("_d"),
    )
    return with_d.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_points"),
        F.max("_d").alias("d_max"),
        F.min("_d").alias("d_min"),
        (
            (F.max("_d") - F.min("_d")).cast("double")
            / (F.count("*") * F.lit(cent_scale)).cast("double")
        ).alias("cusum_range"),
        F.max(F.struct(F.abs(F.col("_d")).alias("_a"), (-F.col("_t")).alias("_nt")))
        .getField("_nt")
        .alias("_neg_t"),
    ).select(
        *group_cols,
        "n_points",
        "d_max",
        "d_min",
        "cusum_range",
        (-F.col("_neg_t")).alias("t_change"),
    )


def theil_sen_slope(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Theil–Sen robust trend slope per series: the median of all
    pairwise slopes (yⱼ−yᵢ)/(xⱼ−xᵢ) — outlier-resistant where OLS is
    not (up to ~29% contamination), the standard robust companion to
    the Mann–Kendall test and sharing its pairwise self-join.

    Determinism: each slope is ONE IEEE division of exact integers
    (pass integer-valued x and y, e.g. epoch days and cents); the
    median is an ORDER-STATISTIC SELECTION — rank positions
    ⌈m/2⌉..⌊m/2⌋+1 — so equal-slope tie order cannot change the
    selected VALUE, and the even-m midpoint (a+b)/2 is two fixed-order
    IEEE ops. No float is ever summed across an unordered set.

    Scale contract: O(n²) pairs per series — a resolution-bounded
    rollup operator like :func:`mann_kendall_trend`, not a raw-event
    one.

    Output per group: ``(n_points, n_pairs, slope)`` — slope NULL for
    single-point series.
    """
    from pyspark.sql.window import Window

    base = df.filter(
        F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(
        *group_cols,
        F.col(order_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_x"),
    )
    a = base.alias("a")
    b = base.alias("b")
    slopes = (
        a.join(b, group_cols)
        .filter(F.col("a._t") < F.col("b._t"))
        .select(
            *group_cols,
            (
                (F.col("b._x") - F.col("a._x")).cast("double")
                / (F.col("b._t") - F.col("a._t")).cast("double")
            ).alias("_s"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("_s")
    ranked = slopes.select(
        *group_cols,
        "_s",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(*group_cols)).alias("_m"),
    )
    # `div`, not `/`: the rank positions are integer order statistics
    sel = ranked.filter(
        (F.col("_rn") == F.expr("(_m + 1) div 2"))
        | (F.col("_rn") == F.expr("_m div 2 + 1"))
    )
    med = sel.groupBy(*group_cols).agg(
        ((F.min("_s") + F.max("_s")) / 2).alias("slope"),
        F.max("_m").cast("long").alias("n_pairs"),
    )
    n_df = base.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_points")
    )
    return n_df.join(med, group_cols, "left").select(
        *group_cols,
        "n_points",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        "slope",
    )


def abc_classification(
    df: DataFrame,
    key_cols: list[str],
    item_cols: list[str],
    value_col: str,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """ABC / Pareto classification: per key, rank items by value
    descending and label the head that carries the first ``a_pct``% of
    cumulative value A, the next tier to ``b_pct``% B, the tail C —
    the 80/20 inventory-and-revenue triage, and the corpus-curation
    "which sources carry the volume" cut.

    An item's class comes from its cumulative total EXCLUDING itself
    (the item crossing a boundary belongs to the head tier — standard
    convention), decided by the all-integer comparison
    ``100·cum_prev < pct·total`` on exact BIGINT values — no share
    ratio is ever floated, so boundary items cannot flip. The reported
    ``cum_share`` double is display-only (one IEEE division). Ranking
    ties break by the item columns, so equal-valued items classify
    identically everywhere.

    One window shuffle on the keys + a broadcast-back total. Pass an
    exact integer ``value_col`` (cents, counts).

    Output: key cols + item cols + ``value`` + ``cum_share`` +
    ``abc_class``.
    """
    from pyspark.sql.window import Window

    if not (0 < a_pct < b_pct <= 100):
        raise ValueError("abc_classification: need 0 < a_pct < b_pct <= 100")
    v = F.col(value_col).cast("long")
    base = df.filter(v.isNotNull()).select(
        *key_cols, *item_cols, v.alias("value")
    )
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("value").desc(), *[F.col(c) for c in item_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*key_cols)
    cum = F.sum("value").over(w_cum)
    total = F.sum("value").over(w_all)
    prev = cum - F.col("value")
    return base.select(
        *key_cols,
        *item_cols,
        "value",
        (cum.cast("double") / total.cast("double")).alias("cum_share"),
        F.when(100 * prev < a_pct * total, F.lit("A"))
        .when(100 * prev < b_pct * total, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def rolling_band_outliers(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    window: int = 14,
    min_n: int = 5,
    k: int = 3,
    cent_scale: int = 100,
) -> DataFrame:
    """Rolling-band breakout flags (Bollinger-style, but exact): flag a
    point whose deviation from the TRAILING window's mean exceeds k
    trailing standard deviations — the self-updating monitor for slow
    drifts where a fixed global baseline (:func:`group_zscore_outliers`)
    goes stale. The current point is EXCLUDED from its own band (ROWS
    −window..−1), so a spike cannot widen the band that judges it.

    Same all-integer algebra as the global variant: values fixed-point
    scaled once via floor(v·scale+0.5), then
    (n·x − S₁)² > k²·(n·S₂ − S₁²) over the trailing counts/sums — every
    comparison side exact (squares as DECIMAL(38,0)), so flags cannot
    flip with partitioning. Points with fewer than ``min_n`` trailing
    peers emit NULL (no verdict), zero-variance bands flag nothing.
    ``order_col`` must be unique per group.

    One window shuffle on the groups; state = window-sized frame.

    Output: group cols + ``order_col`` + ``value_col`` + ``n_band``
    (long) + ``is_breakout`` (boolean|NULL).
    """
    from pyspark.sql.window import Window

    if window < 1:
        raise ValueError("rolling_band_outliers: window must be >= 1")
    xc = F.floor(
        F.col(value_col).cast("double") * cent_scale + F.lit(0.5)
    ).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, F.col(order_col), F.col(value_col), xc.alias("_xc")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(-window, -1)
    )
    n = F.count("_xc").over(w)
    s1 = F.sum("_xc").over(w)
    s2 = F.sum(
        F.col("_xc").cast("decimal(19,0)") * F.col("_xc").cast("decimal(19,0)")
    ).over(w)
    dev = (
        n.cast("decimal(19,0)") * F.col("_xc").cast("decimal(19,0)")
        - s1.cast("decimal(19,0)")
    ).cast("decimal(19,0)")
    lhs = dev * dev
    rhs = F.lit(k * k).cast("decimal(19,0)") * (
        n.cast("decimal(19,0)") * s2
        - s1.cast("decimal(19,0)") * s1.cast("decimal(19,0)")
    )
    return base.select(
        *group_cols,
        order_col,
        value_col,
        F.coalesce(n, F.lit(0)).cast("long").alias("n_band"),
        F.when(n >= min_n, lhs > rhs).alias("is_breakout"),
    ).drop("_xc")


def top_session_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    event_col: str,
    gap_minutes: int = 30,
    max_steps: int = 8,
    k: int = 20,
) -> DataFrame:
    """Top-k session paths: gap-sessionize, concatenate each session's
    first ``max_steps`` events in (ts, id) order into a path string,
    and rank paths by frequency — the "what do users actually do"
    product-analytics staple (Sankey input, funnel discovery).

    Determinism: the (ts, id) struct sort key must be unique per user
    (same contract as :func:`user_event_sequences`); path truncation
    bounds per-session state; the top-k order is total
    (count desc, path asc), so the cut cannot depend on partitioning.

    Scale shape: the sessionize window + one (user, session) aggregate
    + one (path) aggregate + a k-row rank; per-session state is
    ``max_steps`` strings.

    Output: ``(path, n_sessions, rank)`` — exactly ``k`` rows or fewer.
    """
    from pyspark.sql.window import Window

    sess = sessionize(df, user_col, ts_col, gap_minutes=gap_minutes)
    key = F.struct(
        F.col(ts_col), F.col(id_col), F.col(event_col).alias("_e")
    )
    paths = (
        sess.groupBy(F.col(user_col), F.col("session_seq"))
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list(key)),
                        lambda x: x.getField("_e"),
                    ),
                    1,
                    max_steps,
                ),
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    # ORDER BY + LIMIT first (TakeOrderedAndProject — distributed
    # per-partition top-k, never a global single-reducer window), THEN
    # rank the k surviving rows
    top = counts.orderBy(
        F.col("n_sessions").desc(), F.col("path").asc()
    ).limit(k)
    w = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("path", "n_sessions", "rank")


def cohort_ltv_curve(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    revenue_filter: Column | None = None,
    cent_scale: int = 100,
) -> DataFrame:
    """Cohort LTV curve: users cohorted by the calendar month of their
    FIRST event; per cohort × months-since-cohort age, cumulative
    revenue and cumulative revenue per cohort user — the growth-
    analytics complement to :func:`cohort_retention` (does later
    spending compound or decay per acquisition vintage?).

    Month keys are pure integer ``year·12 + month − 1`` field
    arithmetic on the NTZ timestamp (no date_trunc, no session-tz
    exposure); revenue fixed-point-scales once via floor(v·scale+0.5)
    and accumulates as exact BIGINTs; ``ltv_per_user`` is one IEEE
    division of exact values. Ages with zero revenue emit no row
    (LOCF/gap-fill is a separate operator by design).

    Shuffles: per-user first-event aggregate, join back, (cohort, age)
    aggregate, one cumulative window per cohort.

    Output: ``(cohort_month, age_months, n_users, revenue_cents,
    cum_revenue_cents, ltv_per_user)``.
    """
    from pyspark.sql.window import Window

    month = lambda c: (  # noqa: E731
        F.year(c).cast("long") * 12 + F.month(c).cast("long") - 1
    )
    first = df.groupBy(user_col).agg(F.min(ts_col).alias("_t0"))
    cohort = first.select(
        F.col(user_col), month(F.col("_t0")).alias("cohort_month")
    )
    sizes = cohort.groupBy("cohort_month").agg(
        F.count("*").cast("long").alias("n_users")
    )
    rev_rows = df if revenue_filter is None else df.filter(revenue_filter)
    xc = F.floor(
        F.col(value_col).cast("double") * cent_scale + F.lit(0.5)
    ).cast("long")
    rev = (
        rev_rows.filter(F.col(value_col).isNotNull())
        .join(cohort, user_col)
        .select(
            "cohort_month",
            (month(F.col(ts_col)) - F.col("cohort_month")).alias(
                "age_months"
            ),
            xc.alias("_xc"),
        )
        .groupBy("cohort_month", "age_months")
        .agg(F.sum("_xc").alias("revenue_cents"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.withColumn("cum_revenue_cents", F.sum("revenue_cents").over(w))
        .join(F.broadcast(sizes), "cohort_month")
        .select(
            "cohort_month",
            "age_months",
            "n_users",
            "revenue_cents",
            "cum_revenue_cents",
            (
                F.col("cum_revenue_cents").cast("double")
                / (F.col("n_users") * F.lit(cent_scale)).cast("double")
            ).alias("ltv_per_user"),
        )
    )


def seasonal_naive_backtest(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each point with the
    value one season earlier (ŷ_t = y_{t−season}) and report the
    median absolute percentage error — the baseline every fancier
    forecaster must beat, and the right error summary for it (MAPE
    means are blown up by near-zero actuals; the MEDIAN is selection-
    stable).

    Determinism: actuals/forecasts are exact integers (pass cents);
    each APE is |y−ŷ|/y — one exact subtraction, one IEEE division;
    the median is an order-statistic SELECTION (positions ⌈m/2⌉ and
    ⌊m/2⌋+1, midpoint two fixed-order ops) — the same machinery as
    :func:`theil_sen_slope`, so tie order cannot change the value.
    Points with y ≤ 0 or no observation one season back are excluded
    (``n_scored`` reports coverage).

    One equi self-join on (group, order−season) — no window over raw
    rows; resolution-bounded like the other series diagnostics.

    Output per group: ``(n_points, n_scored, mdape)``.
    """
    from pyspark.sql.window import Window

    base = df.filter(
        F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(
        *group_cols,
        F.col(order_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_y"),
    )
    prior = base.select(
        *group_cols,
        (F.col("_t") + season).alias("_t"),
        F.col("_y").alias("_yhat"),
    )
    scored = (
        base.join(prior, [*group_cols, "_t"])
        .filter(F.col("_y") > 0)
        .select(
            *group_cols,
            "_t",
            (
                F.abs(F.col("_y") - F.col("_yhat")).cast("double")
                / F.col("_y").cast("double")
            ).alias("_ape"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("_ape")
    ranked = scored.select(
        *group_cols,
        "_ape",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(*group_cols)).alias("_m"),
    )
    sel = ranked.filter(
        (F.col("_rn") == F.expr("(_m + 1) div 2"))
        | (F.col("_rn") == F.expr("_m div 2 + 1"))
    )
    med = sel.groupBy(*group_cols).agg(
        ((F.min("_ape") + F.max("_ape")) / 2).alias("mdape"),
        F.max("_m").cast("long").alias("n_scored"),
    )
    n_df = base.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_points")
    )
    return n_df.join(med, group_cols, "left").select(
        *group_cols,
        "n_points",
        F.coalesce(F.col("n_scored"), F.lit(0)).alias("n_scored"),
        "mdape",
    )


def audience_overlap(
    df: DataFrame,
    user_col: str,
    segment_col: str,
) -> DataFrame:
    """Audience-overlap matrix: for every pair of segments, the exact
    distinct-user intersection and Jaccard similarity — the "do these
    campaign audiences / event cohorts / corpus sources share people"
    screen behind targeting and cannibalization questions.

    Exact integers until one final IEEE division per pair: distinct
    (user, segment) memberships → per-user self-join (segment₁ <
    segment₂) → pair counts joined with segment sizes. The self-join
    fan-out is quadratic in SEGMENTS-PER-USER, not users — bounded by
    the segment vocabulary; for hundreds of segments per user, cap
    upstream (the same hub discipline as the link-prediction join).

    Output: ``(segment_a, segment_b, n_a, n_b, n_both, jaccard)``.
    """
    m = df.filter(
        F.col(user_col).isNotNull() & F.col(segment_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"), F.col(segment_col).alias("_s")
    ).distinct()
    sizes = m.groupBy(F.col("_s")).agg(F.count("*").alias("_n"))
    a = m.select(F.col("_u"), F.col("_s").alias("segment_a"))
    b = m.select(F.col("_u"), F.col("_s").alias("segment_b"))
    both = (
        a.join(b, "_u")
        .filter(F.col("segment_a") < F.col("segment_b"))
        .groupBy("segment_a", "segment_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    na = sizes.select(
        F.col("_s").alias("segment_a"), F.col("_n").alias("n_a")
    )
    nb = sizes.select(
        F.col("_s").alias("segment_b"), F.col("_n").alias("n_b")
    )
    return (
        both.join(F.broadcast(na), "segment_a")
        .join(F.broadcast(nb), "segment_b")
        .select(
            "segment_a",
            "segment_b",
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def position_based_attribution(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    attribution_window: str = "72 hours",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: per
    conversion, the FIRST touch in the window earns 40%, the LAST 40%,
    and the middle touches split the remaining 20% — marketing's
    standard emphasis-on-discovery-and-closure model next to
    :func:`linear_attribution`'s equal split (solo touch → 100%,
    two touches → 50/50).

    Same exact-arithmetic discipline as the linear variant: output is
    decomposed per ``(touch_type, n_touches, role)`` cohort with
    integer event counts, and ``credit_each`` is a fixed CASE
    expression over exact integers with at most ONE IEEE division
    (0.2/(n−2) for middles) — never a float summed across an unordered
    set. Touch order within a conversion is the unique (ts, id) pair.

    Plan: conversions×touches user-keyed join with the window bound as
    a residual, two window functions over each conversion's touches,
    one cohort aggregate.

    Output: ``(touch_type, n_touches, role, n_touch_events,
    credit_each)`` — role ∈ {solo, first, last, middle}.
    """
    from pyspark.sql.window import Window

    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ct"),
        F.col(id_col).alias("_cid"),
    )
    touch = events.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_tt"),
        F.col(ts_col).alias("_tts"),
        F.col(id_col).alias("_tid"),
    )
    paired = conv.join(touch, "_u").filter(
        (F.col("_tts") < F.col("_ct"))
        & (
            F.col("_tts")
            >= F.col("_ct") - F.expr(f"INTERVAL {attribution_window}")
        )
    )
    w_asc = Window.partitionBy("_cid").orderBy(
        F.col("_tts").asc(), F.col("_tid").asc()
    )
    w_cnt = Window.partitionBy("_cid")
    roled = paired.select(
        "_tt",
        F.count("*").over(w_cnt).alias("n_touches"),
        F.row_number().over(w_asc).alias("_rn"),
    ).select(
        "_tt",
        "n_touches",
        F.when(F.col("n_touches") == 1, F.lit("solo"))
        .when(F.col("_rn") == 1, F.lit("first"))
        .when(F.col("_rn") == F.col("n_touches"), F.lit("last"))
        .otherwise(F.lit("middle"))
        .alias("role"),
    )
    out = roled.groupBy(
        F.col("_tt").alias("touch_type"),
        F.col("n_touches").cast("long").alias("n_touches"),
        "role",
    ).agg(F.count("*").cast("long").alias("n_touch_events"))
    credit = (
        F.when(F.col("role") == "solo", F.lit(1.0))
        .when(
            (F.col("n_touches") == 2)
            & F.col("role").isin("first", "last"),
            F.lit(0.5),
        )
        .when(F.col("role").isin("first", "last"), F.lit(0.4))
        .otherwise(
            F.lit(0.2) / (F.col("n_touches") - 2).cast("double")
        )
    )
    return out.select("*", credit.alias("credit_each"))


def debounce_events(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    gap_seconds: int = 60,
) -> DataFrame:
    """True debounce: within each key, collapse every BURST — a maximal
    chain of events where each consecutive gap is ≤ ``gap_seconds`` —
    to its first event, reporting how many followers were suppressed.
    The telemetry-cleanup step before counting "real" actions
    (double-clicks, retry storms, sensor chatter).

    Chain semantics (a burst extends while each next gap is small, so
    it can stretch far past one gap width) fall out of the sessionize
    construction: burst id = running count of gap-breaks over the
    unique (ts, id) order, keep the first row per burst. Two windows
    on the same key partitioning; exact integer second gaps
    (tz-proof epoch arithmetic).

    Output: key cols + ``ts_col`` + ``id_col`` + ``burst_seq`` (long,
    1-based per key) + ``n_suppressed`` (long).
    """
    from pyspark.sql.window import Window

    epoch = _epoch_seconds(df, ts_col)
    w = Window.partitionBy(*key_cols).orderBy(epoch, F.col(id_col))
    gap_break = (
        F.lag(epoch).over(w).isNull()
        | ((epoch - F.lag(epoch).over(w)) > gap_seconds)
    ).cast("long")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_burst = df.select(
        *key_cols, F.col(ts_col), F.col(id_col),
        F.sum(gap_break).over(w_cum).alias("burst_seq"),
        epoch.alias("_ep"),
    )
    w_burst = Window.partitionBy(*key_cols, "burst_seq")
    ranked = with_burst.select(
        *key_cols, ts_col, id_col, "burst_seq",
        F.row_number()
        .over(
            Window.partitionBy(*key_cols, "burst_seq").orderBy(
                F.col("_ep"), F.col(id_col)
            )
        )
        .alias("_rn"),
        (F.count("*").over(w_burst) - 1).cast("long").alias("n_suppressed"),
    )
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


def gap_fill_interpolate(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Linear-interpolation gap filling over an INTEGER grid (epoch
    days, minute indexes): per group, densify from first to last
    observation and fill each hole with the exact straight line
    between its neighbors — the interpolating complement to
    :func:`gap_fill_locf` (rates and levels interpolate; states carry
    forward).

    Bit-exactness: pass integer values (cents); the interpolated value
    is the exact BIGINT numerator ``v_prev·(d_next−d) + v_next·(d−
    d_prev)`` over the exact BIGINT span — ONE IEEE division per
    filled row; observed rows emit their value exactly (cast, not
    recomputed through the formula). Contract: (group, order) must be
    unique — pre-aggregate duplicates first (the grid join would
    otherwise fan out and the neighbor scans become order-dependent).

    Scale: grid explode is buckets-per-group, not corpus size; the
    neighbor lookups are two IGNORE-NULLS window scans over the same
    (group, order) clustering the grid join produced.

    Output: group cols + ``order_col`` + ``value_interp`` (double) +
    ``is_observed`` (boolean).
    """
    from pyspark.sql.window import Window

    obs = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *group_cols,
        F.col(order_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_v"),
    )
    grid = (
        obs.groupBy(*group_cols)
        .agg(F.min("_t").alias("_lo"), F.max("_t").alias("_hi"))
        .select(
            *group_cols,
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"))
            ).alias("_t"),
        )
    )
    joined = grid.join(obs, [*group_cols, "_t"], "left")
    w_fwd = (
        Window.partitionBy(*group_cols)
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy(*group_cols)
        .orderBy("_t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last("_v", ignorenulls=True).over(w_fwd)
    prev_t = F.last(
        F.when(F.col("_v").isNotNull(), F.col("_t")), ignorenulls=True
    ).over(w_fwd)
    next_v = F.first("_v", ignorenulls=True).over(w_bwd)
    next_t = F.first(
        F.when(F.col("_v").isNotNull(), F.col("_t")), ignorenulls=True
    ).over(w_bwd)
    interp = (
        prev_v * (next_t - F.col("_t")) + next_v * (F.col("_t") - prev_t)
    ).cast("double") / (next_t - prev_t).cast("double")
    return joined.select(
        *group_cols,
        F.col("_t").alias(order_col),
        F.when(F.col("_v").isNotNull(), F.col("_v").cast("double"))
        .otherwise(interp)
        .alias("value_interp"),
        F.col("_v").isNotNull().alias("is_observed"),
    )


def dataset_fingerprint(
    dfs: dict[str, DataFrame],
    mod: int = 1 << 61,
) -> DataFrame:
    """Cross-environment dataset fingerprints: per table, the exact row
    count and an ORDER-INDEPENDENT content checksum — sum of each
    row's 60-bit md5 over its '|'-joined stringified columns, reduced
    mod 2⁶¹ — so two copies of a table reconcile with one number each,
    regardless of engine, partitioning, or row order (the
    post-migration / replica-drift audit; :func:`dataset_diff` then
    localizes any mismatch).

    The checksum sum accumulates as DECIMAL(38,0) (a BIGINT sum of
    60-bit hashes overflows past ~8k rows) and reduces to BIGINT via
    one exact pmod. NULL columns hash as the empty string via
    concat_ws's null-skip — deterministic, mirrored by the oracle.

    One aggregate per table, unioned — each is a single
    partial+final pass.

    Output: ``(table_name, n_rows, checksum)`` — one row per table.
    """
    outs = []
    for name, d in dfs.items():
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                         for c in d.columns])),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        outs.append(
            d.agg(
                F.lit(name).alias("table_name"),
                F.count("*").cast("long").alias("n_rows"),
                F.pmod(
                    F.sum(h.cast("decimal(38,0)")), F.lit(mod)
                ).cast("long").alias("checksum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def ks_statistic(
    df: DataFrame,
    side_col: str | Column,
    value_col: str,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic: D = max |F₁−F₂|
    over the merged distinct values — the standard continuous-drift
    test between two samples (train vs serve, this week vs last),
    computed with NO floating CDFs: the comparison is the integer
    ``|cumA·N_B − cumB·N_A|`` (cross-multiplied ECDFs), maxed exactly,
    with ONE IEEE division at the end. The value where the gap peaks
    is reported (smallest such value on ties).

    ``side_col`` is a boolean column/expression splitting rows into
    sample A (true) and B (false); NULL sides or values are excluded.

    Scale shape: one hash aggregate to per-distinct-value counts, one
    prefix window over DISTINCT values (like :func:`roc_auc_exact` —
    quantize unbounded continuous scores upstream), one 1-row rollup.

    Output 1 row: ``(n_a, n_b, d_num, ks, ks_at_value)`` — ``d_num``
    the exact integer numerator, ``ks = d_num/(n_a·n_b)``.
    """
    from pyspark.sql.window import Window

    side = (
        F.col(side_col) if isinstance(side_col, str) else side_col
    ).cast("boolean")
    base = df.filter(side.isNotNull() & F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("_v"), side.cast("long").alias("_a")
    )
    per_v = base.groupBy("_v").agg(
        F.sum("_a").alias("_ca"),
        F.sum(F.lit(1) - F.col("_a")).alias("_cb"),
    )
    w = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    gaps = per_v.select(
        "_v",
        F.abs(
            F.sum("_ca").over(w) * F.sum("_cb").over(w_all)
            - F.sum("_cb").over(w) * F.sum("_ca").over(w_all)
        ).alias("_g"),
        F.sum("_ca").over(w_all).alias("_na"),
        F.sum("_cb").over(w_all).alias("_nb"),
    )
    with_max = gaps.select(
        "*", F.max("_g").over(w_all).alias("_gm")
    )
    return with_max.agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.max("_g").cast("long").alias("d_num"),
        F.min(F.when(F.col("_g") == F.col("_gm"), F.col("_v"))).alias(
            "ks_at_value"
        ),
    ).select(
        "n_a",
        "n_b",
        "d_num",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("d_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        ).alias("ks"),
        "ks_at_value",
    )


def distribution_drift_tv(
    df: DataFrame,
    side_col: str | Column,
    value_col: str,
) -> DataFrame:
    """EXACT total-variation distance between two samples' CATEGORICAL
    distributions: TV = ½ Σ|p₁(v) − p₂(v)| — the drift score for
    label/segment/source mixes (PSI needs logs and is engine-ULP-
    dependent; TV is the exact alternative with the same monitoring
    role). Computed as the integer numerator Σ|c₁·N₂ − c₂·N₁| with ONE
    final IEEE division by 2·N₁·N₂. A category present in only one
    sample contributes its full mass; NULL values form a category of
    their own (a null-rate shift IS drift), NULL sides are excluded.

    One hash aggregate + a 1-row rollup — no window at all.

    Output 1 row: ``(n_a, n_b, n_categories, tv_num, tv)``.
    """
    side = (
        F.col(side_col) if isinstance(side_col, str) else side_col
    ).cast("boolean")
    base = df.filter(side.isNotNull()).select(
        F.col(value_col).alias("_v"), side.cast("long").alias("_a")
    )
    per_v = base.groupBy("_v").agg(
        F.sum("_a").alias("_ca"),
        F.sum(F.lit(1) - F.col("_a")).alias("_cb"),
    )
    totals = per_v.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    j = per_v.crossJoin(F.broadcast(totals))
    return j.agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.count("*").alias("n_categories"),
        F.sum(
            F.abs(F.col("_ca") * F.col("_nb") - F.col("_cb") * F.col("_na"))
        ).cast("long").alias("tv_num"),
    ).select(
        "n_a",
        "n_b",
        "n_categories",
        "tv_num",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("tv_num").cast("double")
            / (2 * F.col("n_a") * F.col("n_b")).cast("double"),
        ).alias("tv"),
    )


def price_volume_decomposition(
    df: DataFrame,
    segment_cols: list[str],
    period_col: str | Column,
    qty_col: str,
    revenue_col: str,
    base_period: str,
    comp_period: str,
) -> DataFrame:
    """Price–volume decomposition of a revenue change between two
    periods, per segment: Δrevenue = volume effect (q₂−q₁)·p₁ + price
    effect (p₂−p₁)·q₂ (the standard asymmetric convention; the two
    terms sum exactly to Δ in real arithmetic) — the FP&A / revenue-
    ops "why did revenue move" answer.

    Inputs must be exact integers (quantities and revenue cents):
    ``delta_cents`` is then an exact BIGINT; the effect terms are
    fixed-order expressions with ONE division each (p = r/q), so they
    are bit-identical everywhere. Segments present only in the
    comparison period are ``new`` (volume effect = full Δ, price 0);
    only in the base period ``churned`` (volume effect = −r₁); both →
    ``continuing``.

    One conditional aggregate over both periods (no join, no pivot
    collect) + the effect projection.

    Output: segment cols + ``(q_base, q_comp, r_base_cents,
    r_comp_cents, delta_cents, volume_effect, price_effect, status)``.
    """
    per = (
        F.col(period_col) if isinstance(period_col, str) else period_col
    ).cast("string")
    base = df.filter(per.isin(base_period, comp_period)).select(
        *segment_cols,
        per.alias("_p"),
        F.col(qty_col).cast("long").alias("_q"),
        F.col(revenue_col).cast("long").alias("_r"),
    )
    is_base = F.col("_p") == base_period
    agg = base.groupBy(*segment_cols).agg(
        F.sum(F.when(is_base, F.col("_q")).otherwise(0)).alias("q_base"),
        F.sum(F.when(~is_base, F.col("_q")).otherwise(0)).alias("q_comp"),
        F.sum(F.when(is_base, F.col("_r")).otherwise(0)).alias(
            "r_base_cents"
        ),
        F.sum(F.when(~is_base, F.col("_r")).otherwise(0)).alias(
            "r_comp_cents"
        ),
        F.max(is_base.cast("int")).alias("_hb"),
        F.max((~is_base).cast("int")).alias("_hc"),
    )
    p1 = F.col("r_base_cents").cast("double") / F.col("q_base").cast(
        "double"
    )
    p2 = F.col("r_comp_cents").cast("double") / F.col("q_comp").cast(
        "double"
    )
    delta = F.col("r_comp_cents") - F.col("r_base_cents")
    status = (
        F.when(F.col("_hb") * F.col("_hc") == 1, F.lit("continuing"))
        .when(F.col("_hc") == 1, F.lit("new"))
        .otherwise(F.lit("churned"))
    )
    ve = (
        F.when(status == "new", delta.cast("double"))
        .when(status == "churned", delta.cast("double"))
        .otherwise(
            (F.col("q_comp") - F.col("q_base")).cast("double") * p1
        )
    )
    pe = F.when(status == "continuing", (p2 - p1) * F.col("q_comp").cast(
        "double"
    )).otherwise(F.lit(0.0))
    return agg.select(
        *segment_cols,
        F.col("q_base").cast("long"),
        F.col("q_comp").cast("long"),
        F.col("r_base_cents").cast("long"),
        F.col("r_comp_cents").cast("long"),
        delta.cast("long").alias("delta_cents"),
        ve.alias("volume_effect"),
        pe.alias("price_effect"),
        status.alias("status"),
    )


def lump_rare_categories(
    df: DataFrame,
    cat_col: str,
    k: int = 10,
    other_label: str = "__OTHER__",
) -> DataFrame:
    """Rare-category lumping: keep the top-``k`` categories by count,
    fold everything else (and NULL) into one ``other_label`` bucket —
    the feature-prep step before one-hot/target encoding that stops
    million-category tails from exploding a model matrix.

    Total order (count desc, category asc) picks the survivors, so
    the cut is partition-independent; the k-row head set is decided
    with ORDER BY + LIMIT (TakeOrdered) and broadcast back — the full
    category table never funnels through one reducer.

    Output: ``(category_out, n_rows, n_source_categories)`` — at most
    k+1 rows; ``n_source_categories`` counts how many raw categories
    folded into each output row.
    """
    if k < 1:
        raise ValueError("lump_rare_categories: k must be >= 1")
    counts = df.groupBy(
        F.coalesce(F.col(cat_col).cast("string"), F.lit("__NULL__")).alias(
            "_c"
        )
    ).agg(F.count("*").alias("_n"))
    top = (
        counts.orderBy(F.col("_n").desc(), F.col("_c").asc())
        .limit(k)
        .select(F.col("_c"), F.lit(1).alias("_keep"))
    )
    labeled = counts.join(F.broadcast(top), "_c", "left").select(
        F.when(F.col("_keep").isNotNull(), F.col("_c"))
        .otherwise(F.lit(other_label))
        .alias("category_out"),
        "_n",
    )
    return labeled.groupBy("category_out").agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_source_categories"),
    )


def share_of_parent(
    df: DataFrame,
    level_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Hierarchical contribution report: aggregate an exact integer
    measure to the leaf grouping, then attach every ancestor level's
    total and the leaf's share of each — "nation is X% of its region,
    Y% of the company" — the drill-down table every BI layer renders.

    ``level_cols`` order is the hierarchy (coarsest first); the last
    level is the leaf grain, its PROPER ancestors get totals/shares
    (the leaf's share of itself is trivially 1 and is omitted). Totals
    are window sums over the already-aggregated leaf table (|leaves|
    rows, not facts); shares are ONE IEEE division per level. All
    totals exact BIGINTs.

    Output: level cols + ``value`` + per-ancestor ``total_<col>`` and
    ``share_of_<col>`` + ``total_all`` and ``share_of_all``.
    """
    from pyspark.sql.window import Window

    if not level_cols:
        raise ValueError("share_of_parent: need level_cols")
    leaf = df.groupBy(*level_cols).agg(
        F.sum(F.col(value_col).cast("long")).cast("long").alias("value")
    )
    out = leaf
    for i, c in enumerate(level_cols[:-1]):
        w = Window.partitionBy(*level_cols[: i + 1])
        out = out.withColumn(
            f"total_{c}", F.sum("value").over(w).cast("long")
        ).withColumn(
            f"share_of_{c}",
            F.col("value").cast("double")
            / F.col(f"total_{c}").cast("double"),
        )
    w_all = Window.partitionBy()
    return out.withColumn(
        "total_all", F.sum("value").over(w_all).cast("long")
    ).withColumn(
        "share_of_all",
        F.col("value").cast("double") / F.col("total_all").cast("double"),
    )


def value_band_clusters(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    epsilon: int,
) -> DataFrame:
    """1-D tolerance clustering: per key, sort the DISTINCT integer
    values and start a new cluster wherever the gap to the previous
    value exceeds ``epsilon`` — the reference-data cleanup that
    collapses near-equal prices/measurements ("these 5 prices within
    $1 are one price point") without any pairwise join. Chain
    semantics like :func:`debounce_events`, but on the value axis.

    All-integer: values must be pre-scaled integers (cents); gaps,
    cluster ids, and stats are exact; the canonical representative is
    the cluster minimum. One distinct aggregate + two windows on the
    key partitioning.

    Output: key cols + ``(cluster_seq, n_values, n_rows, lo, hi)`` —
    ``n_values`` distinct members, ``n_rows`` underlying rows.
    """
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("long")
    per_v = df.filter(v.isNotNull()).groupBy(
        *key_cols, v.alias("_v")
    ).agg(F.count("*").alias("_c"))
    w = Window.partitionBy(*key_cols).orderBy("_v")
    brk = (
        F.lag("_v").over(w).isNull()
        | ((F.col("_v") - F.lag("_v").over(w)) > epsilon)
    ).cast("long")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seg = per_v.withColumn("cluster_seq", F.sum(brk).over(w_cum))
    return seg.groupBy(*key_cols, "cluster_seq").agg(
        F.count("*").cast("long").alias("n_values"),
        F.sum("_c").cast("long").alias("n_rows"),
        F.min("_v").alias("lo"),
        F.max("_v").alias("hi"),
    )


def recency_weighted_popularity(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    weight_col: str,
    half_life_days: int = 7,
    max_age_halflives: int = 40,
    as_of_day: int | None = None,
) -> DataFrame:
    """Recency-decayed popularity ranking with a BIT-EXACT decay:
    score = Σ w·2^(−age/half_life) where the exponent is the INTEGER
    age in half-lives — powers of two scale IEEE doubles exactly, so
    the decay introduces no rounding at all; the only inexactness is
    the final correctly-rounded DECIMAL→double conversion. The
    trending-items ranking ("recent activity counts double per
    half-life ago") that ad-hoc `exp(-λt)` scoring computes
    irreproducibly.

    Internals: each event contributes the exact BIGINT
    ``w·2^(max_age − k)`` (k = capped age in half-lives), summed as
    DECIMAL(38,0), then ONE exact division by 2^max_age. ``as_of_day``
    (epoch days) anchors the age; default = the corpus max. Events
    older than ``max_age_halflives`` half-lives contribute weight 0
    (documented cutoff — their true contribution is below one part in
    2^40 anyway).

    One stats probe (when as_of_day is None) + one hash aggregate.

    Output: key cols + ``(n_events, score)``.
    """
    epoch_day = F.unix_date(F.col(ts_col).cast("date")).cast("long")
    if as_of_day is None:
        as_of_day = df.agg(F.max(epoch_day)).collect()[0][0]
    age_hl = F.least(
        F.greatest(
            (F.lit(int(as_of_day)) - epoch_day)
            / F.lit(half_life_days),
            F.lit(0),
        ).cast("long"),
        F.lit(max_age_halflives),
    )
    staged = df.filter(
        F.col(ts_col).isNotNull() & F.col(weight_col).isNotNull()
    ).select(
        *key_cols,
        F.col(weight_col).cast("long").alias("_w"),
        age_hl.alias("_k"),
    )
    # SQL shiftleft accepts a column bit count; the DataFrame helper
    # only takes a literal int
    term = F.when(
        F.col("_k") < max_age_halflives,
        F.col("_w")
        * F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST({max_age_halflives} - _k AS INT))"
        ),
    ).otherwise(F.lit(0))
    return staged.groupBy(*key_cols).agg(
        F.count("*").cast("long").alias("n_events"),
        (
            F.sum(term.cast("decimal(38,0)")).cast("double")
            / F.lit(float(2 ** max_age_halflives))
        ).alias("score"),
    )


def trimmed_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    trim_frac: float = 0.1,
) -> DataFrame:
    """Exact trimmed mean per group: drop the lowest and highest
    ⌊trim·n⌋ values (by rank, ties broken by id so the trim set is
    unique) and average the DECIMAL-accumulated middle — the robust
    location estimate between mean (outlier-fragile) and median
    (throws away 98% of the data). No float is summed before the
    single final division.

    Pass integer values (cents). One rank window per group + one
    aggregate. ``trim_frac`` must leave at least one row
    (groups fully trimmed emit NULL mean with counts).

    Output: group cols + ``(n_rows, n_trimmed_each, trimmed_mean)``.
    """
    from pyspark.sql.window import Window

    if not 0 <= trim_frac < 0.5:
        raise ValueError("trimmed_mean: trim_frac must be in [0, 0.5)")
    v = F.col(value_col).cast("long")
    base = df.filter(v.isNotNull()).select(
        *group_cols, v.alias("_v"), F.col(id_col).alias("_id")
    )
    w = Window.partitionBy(*group_cols).orderBy("_v", "_id")
    w_all = Window.partitionBy(*group_cols)
    ranked = base.select(
        *group_cols,
        "_v",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(w_all).alias("_n"),
        F.floor(F.count("*").over(w_all) * trim_frac)
        .cast("long")
        .alias("_t"),
    )
    kept = ranked.filter(
        (F.col("_rn") > F.col("_t")) & (F.col("_rn") <= F.col("_n") - F.col("_t"))
    )
    agg = kept.groupBy(*group_cols).agg(
        F.max("_n").cast("long").alias("n_rows"),
        F.max("_t").cast("long").alias("n_trimmed_each"),
        (
            F.sum(F.col("_v").cast("decimal(38,0)")).cast("double")
            / F.count("*").cast("double")
        ).alias("trimmed_mean"),
    )
    return agg


def split_conformal_width(
    df: DataFrame,
    group_cols: list[str],
    residual_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal prediction-interval half-width per group: the
    ⌈(n+1)(1−α)⌉-th smallest absolute calibration residual — the
    distribution-free coverage guarantee (Vovk; Lei et al.) that turns
    ANY point forecaster into an interval forecaster. α is passed as
    the exact rational ``alpha_num/alpha_den`` so the order-statistic
    index is pure integer arithmetic: idx = ⌈(n+1)(den−num)/den⌉ =
    ``((n+1)·(den−num) + den − 1) div den``, capped at n.

    The width is an order-statistic SELECTION (ties by residual value
    only — equal residuals give equal widths), never an interpolation:
    exact on any engine. Groups too small for the index (idx > n
    cannot happen after the cap; n = 0 groups vanish upstream).

    One rank window per group + one aggregate.

    Output: group cols + ``(n_calib, q_index, width)``.
    """
    from pyspark.sql.window import Window

    if not (0 < alpha_num < alpha_den):
        raise ValueError("split_conformal_width: need 0 < num < den")
    r = F.abs(F.col(residual_col).cast("long"))
    base = df.filter(F.col(residual_col).isNotNull()).select(
        *group_cols, r.alias("_r")
    )
    w = Window.partitionBy(*group_cols).orderBy("_r")
    w_all = Window.partitionBy(*group_cols)
    n = F.count("*").over(w_all)
    idx = F.least(
        F.expr(
            f"((_n + 1) * {alpha_den - alpha_num} + {alpha_den} - 1) "
            f"div {alpha_den}"
        ),
        F.col("_n"),
    )
    ranked = base.select(
        *group_cols,
        "_r",
        F.row_number().over(w).alias("_rn"),
        n.alias("_n"),
    ).withColumn("_idx", idx)
    return (
        ranked.filter(F.col("_rn") == F.col("_idx"))
        .select(
            *group_cols,
            F.col("_n").cast("long").alias("n_calib"),
            F.col("_idx").cast("long").alias("q_index"),
            F.col("_r").cast("long").alias("width"),
        )
    )


def ma_crossover_signals(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    short_window: int = 7,
    long_window: int = 28,
) -> DataFrame:
    """Moving-average crossover signals WITHOUT computing a float mean:
    short-MA > long-MA ⟺ ``sum_s·n_l > sum_l·n_s`` (cross-multiplied
    exact integers), so the regime flag — and the crossover events
    where it flips — cannot jitter with summation order. The classic
    momentum/golden-cross detector for any metric series.

    Trailing ROWS frames include the current point; points with fewer
    than ``long_window`` trailing rows emit NULL regime (warm-up).
    Signal: +1 where the regime flips up, −1 where it flips down, 0
    otherwise (NULL during warm-up or after a NULL-regime predecessor).
    ``order_col`` must be unique per group; pass integer values.

    One window shuffle (all frames share the (group, order) sort).

    Output: group cols + ``order_col`` + ``value`` + ``regime_up``
    (boolean|NULL) + ``signal`` (int|NULL).
    """
    from pyspark.sql.window import Window

    if not 0 < short_window < long_window:
        raise ValueError(
            "ma_crossover_signals: need 0 < short_window < long_window"
        )
    v = F.col(value_col).cast("long")
    base = df.filter(v.isNotNull()).select(
        *group_cols, F.col(order_col), v.alias("value")
    )
    order = Window.partitionBy(*group_cols).orderBy(order_col)
    w_s = order.rowsBetween(-(short_window - 1), 0)
    w_l = order.rowsBetween(-(long_window - 1), 0)
    n_l = F.count("value").over(w_l)
    regime = F.when(
        n_l >= long_window,
        F.sum("value").over(w_s) * n_l
        > F.sum("value").over(w_l) * F.count("value").over(w_s),
    )
    staged = base.withColumn("regime_up", regime)
    prev = F.lag("regime_up").over(order)
    signal = F.when(
        F.col("regime_up").isNotNull() & prev.isNotNull(),
        F.when(F.col("regime_up") & ~prev, 1)
        .when(~F.col("regime_up") & prev, -1)
        .otherwise(0),
    ).cast("int")
    return staged.withColumn("signal", signal)


def correlation_rsq(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Pearson correlation per group, reported as EXACT-moment r² and
    sign rather than r: the five sufficient statistics (n, Σx, Σy,
    Σx², Σy², Σxy) accumulate as exact DECIMAL(38,0) over integer
    inputs, and r² = (num/dx)·(num/dy) is three fixed-order IEEE ops
    on correctly-rounded exact values (num = nΣxy−ΣxΣy, dx = nΣx²−
    (Σx)², dy likewise — num²/(dx·dy) directly would overflow any
    fixed-precision type; this split cannot). No sqrt — r itself is
    ``sign·√r²`` if a caller wants it, with the engine-ULP caveat
    theirs.

    Zero-variance sides emit NULL r² (undefined, never a divide
    blow-up). Pass integer columns (cents, counts). One hash
    aggregate.

    Output: group cols + ``(n, sign, r_squared)`` — sign ∈ {-1,0,1}.
    """
    g = list(group_cols or [])
    x = F.col(x_col).cast("decimal(19,0)")
    y = F.col(y_col).cast("decimal(19,0)")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    agg = base.groupBy(*g).agg(
        F.count("*").cast("decimal(19,0)").alias("_n"),
        F.sum(x).cast("decimal(38,0)").alias("_sx"),
        F.sum(y).cast("decimal(38,0)").alias("_sy"),
        F.sum(x * x).cast("decimal(38,0)").alias("_sxx"),
        F.sum(y * y).cast("decimal(38,0)").alias("_syy"),
        F.sum(x * y).cast("decimal(38,0)").alias("_sxy"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    dx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    dy = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    rsq = (num.cast("double") / dx.cast("double")) * (
        num.cast("double") / dy.cast("double")
    )
    return agg.select(
        *g,
        F.col("_n").cast("long").alias("n"),
        F.signum(num.cast("double")).cast("int").alias("sign"),
        F.when((dx > 0) & (dy > 0), rsq).alias("r_squared"),
    )


def behavior_bitmask_segments(
    df: DataFrame,
    user_col: str,
    event_col: str,
    categories: list[str],
) -> DataFrame:
    """Behavior segmentation by event-type bitmask: each user gets a
    bit per category they ever triggered; segment sizes per exact mask
    — the "did X and Y but never Z" combinatorial census that takes
    2^k correlated-subquery scans to ask one-at-a-time. ``categories``
    is an explicit list (bit i = categories[i]) so masks are stable
    across runs and engines; events outside the list are ignored.

    All integer: per-user ``bit_or`` of single-bit values, then a mask
    census. Two hash aggregates; the mask decodes back to a label
    string for readability.

    Output: ``(mask, segment, n_users)`` — segment a '+'-joined label
    like ``click+purchase``.
    """
    if not categories or len(categories) > 62:
        raise ValueError(
            "behavior_bitmask_segments: need 1..62 categories"
        )
    # single CASE producing the event's bit (0 if uncategorized)
    expr = F.lit(0).cast("long")
    for i, c in enumerate(categories):
        expr = F.when(F.col(event_col) == c, F.lit(1 << i).cast("long")).otherwise(expr)
    masks = df.groupBy(F.col(user_col).alias("user")).agg(
        F.bit_or(expr).alias("mask")
    )
    label = F.concat_ws(
        "+",
        F.filter(
            F.array(
                *[
                    F.when(
                        (F.col("mask").bitwiseAND(F.lit(1 << i))) > 0,
                        F.lit(c),
                    )
                    for i, c in enumerate(categories)
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    return masks.groupBy("mask").agg(
        F.count("*").cast("long").alias("n_users")
    ).select(
        F.col("mask").cast("long"),
        label.alias("segment"),
        "n_users",
    )


def max_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Sweep-line maximum concurrency: the high-water mark of
    simultaneously-open intervals (sessions, calls, jobs) per group —
    the capacity-planning number. Boundary events (+1 at start, −1 at
    end) sort by (time, delta) so an interval ENDING at instant t
    closes before one starting at t opens (half-open [start, end)
    semantics — back-to-back sessions never double-count), then a
    running sum and its max.

    Exact integers on floored epoch seconds; NULL or inverted
    intervals are dropped. One window over the group's boundary
    events (2 rows per interval).

    Output: group cols + ``(n_intervals, peak_concurrency,
    t_peak)`` — the earliest floored-epoch second where the peak is
    reached.
    """
    from pyspark.sql.window import Window

    g = list(group_cols or [])
    s_ep = _epoch_seconds(df, start_col)
    e_ep = _epoch_seconds(df, end_col)
    base = df.filter(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (e_ep > s_ep)
    ).select(*g, s_ep.alias("_s"), e_ep.alias("_e"))
    starts = base.select(*g, F.col("_s").alias("_t"), F.lit(1).alias("_d"))
    ends = base.select(*g, F.col("_e").alias("_t"), F.lit(-1).alias("_d"))
    events = starts.unionAll(ends)
    w = (
        Window.partitionBy(*g)
        .orderBy(F.col("_t"), F.col("_d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = events.withColumn("_c", F.sum("_d").over(w))
    w_all = Window.partitionBy(*g)
    peaked = running.withColumn("_m", F.max("_c").over(w_all))
    return (
        peaked.filter(F.col("_c") == F.col("_m"))
        .groupBy(*g)
        .agg(
            F.max("_m").cast("long").alias("peak_concurrency"),
            F.min("_t").cast("long").alias("t_peak"),
        )
        .join(
            base.groupBy(*g).agg(
                F.count("*").cast("long").alias("n_intervals")
            ),
            g,
        )
        .select(*g, "n_intervals", "peak_concurrency", "t_peak")
        if g
        else peaked.filter(F.col("_c") == F.col("_m"))
        .agg(
            F.max("_m").cast("long").alias("peak_concurrency"),
            F.min("_t").cast("long").alias("t_peak"),
        )
        .crossJoin(
            base.agg(F.count("*").cast("long").alias("n_intervals"))
        )
        .select("n_intervals", "peak_concurrency", "t_peak")
    )


def xyz_classification(
    df: DataFrame,
    item_cols: list[str],
    period_col: str,
    value_col: str,
    y_cv_sq_num: int = 1,
    y_cv_sq_den: int = 4,
    z_cv_sq_num: int = 1,
    z_cv_sq_den: int = 1,
) -> DataFrame:
    """XYZ demand-variability classification (ABC's companion axis):
    per item, the squared coefficient of variation of per-period
    demand decides X (steady), Y (variable), Z (erratic). CV² =
    (nΣx²−(Σx)²)/(Σx)² is an exact rational over integer demands, so
    the class boundaries are the ALL-INTEGER comparisons
    ``den·(nΣx²−(Σx)²) ≤ num·(Σx)²`` — default X at CV² ≤ 1/4
    (CV ≤ 0.5), Y at CV² ≤ 1, Z above; zero total demand → Z (most
    erratic, not a divide). Missing periods are NOT zero-filled —
    pre-densify with the gap-fill operators if absent-means-zero.

    Two hash aggregates ((item, period) demand → item moments).

    Output: item cols + ``(n_periods, demand_total, cv_sq, xyz_class)``
    — ``cv_sq`` one display-only IEEE division.
    """
    per = df.groupBy(*item_cols, F.col(period_col).alias("_p")).agg(
        F.sum(F.col(value_col).cast("long")).alias("_x")
    )
    x = F.col("_x").cast("decimal(19,0)")
    agg = per.groupBy(*item_cols).agg(
        F.count("*").cast("decimal(19,0)").alias("_n"),
        F.sum(x).cast("decimal(38,0)").alias("_s1"),
        F.sum(x * x).cast("decimal(38,0)").alias("_s2"),
    )
    num = F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1")
    s1sq = F.col("_s1") * F.col("_s1")
    cls = (
        F.when(F.col("_s1") <= 0, F.lit("Z"))
        .when(F.lit(y_cv_sq_den) * num <= F.lit(y_cv_sq_num) * s1sq, "X")
        .when(F.lit(z_cv_sq_den) * num <= F.lit(z_cv_sq_num) * s1sq, "Y")
        .otherwise(F.lit("Z"))
    )
    return agg.select(
        *item_cols,
        F.col("_n").cast("long").alias("n_periods"),
        F.col("_s1").cast("long").alias("demand_total"),
        F.when(
            F.col("_s1") > 0,
            num.cast("double") / s1sq.cast("double"),
        ).alias("cv_sq"),
        cls.alias("xyz_class"),
    )


def hll_registers(
    df: DataFrame,
    value_col: Column | str,
    m: int = 256,
) -> DataFrame:
    """Portable HyperLogLog register state (Flajolet et al. 2007): md5 the
    value (engine-portable, unlike Spark's internal xxhash sketches), low
    ``log2(m)`` bits pick the register, and the register keeps the max
    rank ``rho`` = leading-zero count of the remaining 52-bit field + 1.
    One hash aggregate; the register table IS the mergeable sketch state
    (max-merge across partitions/engines/days), exactly the shape a
    100 TB incremental distinct-count pipeline stores per segment.

    ``rho`` is computed without floats or logs: the bit length of a
    positive BIGINT is ``length(bin(w))`` on both Spark and DuckDB (no
    zero-padding on either engine — parity verified), so
    ``rho = 53 - bitlen(w)`` with the ``w = 0`` corner pinned to 53.
    Output: ``(bucket, register)``, one row per NON-EMPTY register.
    """
    if m & (m - 1) or m < 16:
        raise ValueError("m must be a power of two >= 16")
    from hiv_data_integration_spark.operators.dedup import md5_long

    h = md5_long(F.col(value_col) if isinstance(value_col, str) else value_col)
    bucket = (h % m).alias("bucket")
    # exact integer division — NOT `h / m`: that is IEEE double division,
    # and md5_long's 60-bit values exceed double's 53-bit mantissa, so h
    # would be rounded before dividing (register off-by-one near bucket
    # boundaries vs the oracle's exact `h // m`). h >= 0 and m is a power
    # of two, so a right shift is the exact floor quotient.
    w = F.shiftright(h, m.bit_length() - 1)
    # rho = (60 - log2(m)) - bitlen(w) + 1, saturating at the w == 0
    # corner: 53 for the default m=256 (the docstring's 52-bit field),
    # generalized so non-default register counts stay correct
    rc = 62 - m.bit_length()
    rho = F.when(w == 0, F.lit(rc)).otherwise(
        F.lit(rc) - F.length(F.bin(w))
    ).cast("long")
    return (
        df.select(bucket, rho.alias("_rho"))
        .groupBy("bucket")
        .agg(F.max("_rho").cast("long").alias("register"))
    )


def hll_estimate(
    registers: DataFrame,
    m: int = 256,
) -> DataFrame:
    """Raw HyperLogLog estimate from a register table, with the float
    path kept bit-portable: the harmonic sum ``Σ 2^-M_j`` is formed as an
    exact RATIONAL — numerator ``Σ 2^(maxM - M_j)`` in BIGINT over all
    ``m`` registers (absent registers hold 0 and contribute ``2^maxM``),
    denominator ``2^maxM`` — so the only floating-point steps are the
    final constant multiply and one division, identical on any IEEE
    engine. No small/large-range corrections (they need ln); callers
    operate in the raw regime ``n > 2.5 m``.

    Output 1 row: ``(m, max_register, harmonic_num, estimate)``.
    """
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.agg(
        F.max("register").cast("long").alias("max_register"),
        F.count("*").cast("long").alias("_nonempty"),
    )
    # numerator: non-empty registers contribute 2^(maxM - M_j); the
    # (m - nonempty) absent registers contribute 2^maxM each
    joined = registers.crossJoin(F.broadcast(agg.select("max_register")))
    # 2^x via pow: powers of two up to 2^53 are EXACT doubles, so the
    # long cast is lossless (shiftleft's bit-count arg must be a literal)
    num_present = joined.agg(
        F.sum(
            F.pow(
                F.lit(2.0),
                (F.col("max_register") - F.col("register")).cast("double"),
            ).cast("long")
        ).alias("_np")
    )
    out = (
        agg.crossJoin(F.broadcast(num_present))
        .withColumn(
            "harmonic_num",
            (
                F.col("_np")
                + (F.lit(m) - F.col("_nonempty"))
                * F.pow(
                    F.lit(2.0), F.col("max_register").cast("double")
                ).cast("long")
            ).cast("long"),
        )
        .withColumn(
            "estimate",
            F.lit(alpha * m * m)
            * F.pow(F.lit(2.0), F.col("max_register").cast("double"))
            / F.col("harmonic_num").cast("double"),
        )
    )
    return out.select(
        F.lit(m).cast("long").alias("m"),
        "max_register",
        "harmonic_num",
        "estimate",
    )


def kmv_sketch(
    df: DataFrame,
    value_col: Column | str,
    k: int = 32,
) -> DataFrame:
    """K-Minimum-Values distinct sketch (Bar-Yossef et al., RANDOM'02 /
    the theta-sketch family): the k smallest DISTINCT md5 hashes of the
    value. Like the HLL register table, the k-row hash set IS the
    mergeable state — merging segments is union → k smallest again, and
    set EXPRESSIONS (union/intersection estimates across sources) fall
    out of the same state, which registers can't give you. md5 keeps it
    engine/language-portable.

    Plan shape: ``orderBy(h).limit(k)`` compiles to
    TakeOrderedAndProject — per-partition top-k heaps merged on the
    driver, never a global range-partition sort, so it scales to any
    corpus size at O(k) merge state per partition.

    Output: ``(h,)`` — at most ``k`` rows, ascending ordering not
    materialized (callers aggregate).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from hiv_data_integration_spark.operators.dedup import md5_long

    col = F.col(value_col) if isinstance(value_col, str) else value_col
    return (
        df.select(md5_long(col).alias("h"))
        .dropDuplicates()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(*sketches: DataFrame, k: int) -> DataFrame:
    """Merge KMV sketch states: distinct union of the hash sets, k
    smallest kept. The merged sketch estimates the distinct count of the
    UNION of the underlying sets — the mergeable-segment shape a 100 TB
    incremental pipeline stores (sketch per partition/day, merge on
    read).

    ``k`` is required (no default): merging sketches built with a
    larger k under a smaller merge-k silently truncates the union
    state and biases the estimate, so the caller must state the k the
    input sketches were built with.
    """
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.dropDuplicates().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: if the sketch holds
    fewer than ``k`` hashes the count is EXACT (every distinct value is
    present); otherwise ``D = (k-1) * 2^60 / h_(k)`` with ``h_(k)`` the
    k-th smallest hash (md5_long is uniform on [0, 2^60)). The only
    float step is one IEEE division of exact integers ((k-1)*2^60 is a
    power of two times a <2^6 integer — an exact double), so the
    estimate hashes identically on any IEEE engine.

    Output 1 row: ``(n_kept, kth_hash, estimate)``.
    """
    agg = sketch.agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    full = F.lit(float((k - 1) * (1 << 60))) / F.col("kth_hash").cast(
        "double"
    )
    return agg.select(
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(full)
        .alias("estimate"),
    )


def seasonal_index_dow(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Day-of-week seasonal indices — the additive/multiplicative
    decomposition's seasonal factor table, log-free: per weekday,
    ``index = (dow daily mean) / (overall daily mean)`` computed as ONE
    IEEE division of exact BIGINT cross-products,
    ``(dow_cents * n_days_total) / (n_days_dow * total_cents)`` — no
    float mean anywhere, so the indices hash identically on any engine.
    Weekday key is epoch-days mod 7 (0 = Thursday), immune to engine
    week-numbering and timezone rendering; values accumulate as exact
    cents (floor(v*100 + 0.5)).

    Two hash aggregates ((day) → (dow)) + one broadcast total row.
    Cross-product envelope: ``dow_cents * n_days_total`` must fit BIGINT
    (fine up to ~9e18 — e.g. $10^14 total cents over 10^4 days); past
    that, swap the products to DECIMAL(38,0) with the VARCHAR-mediated
    double cast (see twap's oracle note).
    Output: ``(dow, n_days, dow_cents, seasonal_index)``.
    """
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    epoch_day = F.unix_date(F.col(ts_col).cast("date")).cast("long")
    daily = df.select(epoch_day.alias("_d"), cents.alias("_c")).groupBy(
        "_d"
    ).agg(F.sum("_c").alias("_dc"))
    dow = daily.groupBy(F.pmod(F.col("_d"), F.lit(7)).alias("dow")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("_dc").cast("long").alias("dow_cents"),
    )
    total = dow.agg(
        F.sum("n_days").cast("long").alias("_nt"),
        F.sum("dow_cents").cast("long").alias("_tc"),
    )
    return dow.crossJoin(F.broadcast(total)).select(
        "dow",
        "n_days",
        "dow_cents",
        (
            (F.col("dow_cents") * F.col("_nt")).cast("double")
            / (F.col("n_days") * F.col("_tc")).cast("double")
        ).alias("seasonal_index"),
    )


def hll_registers_grouped(
    df: DataFrame,
    group_cols: list[str],
    value_col: Column | str,
    m: int = 256,
) -> DataFrame:
    """Per-GROUP portable HyperLogLog register state: one register table
    per group key — the shape a 100 TB pipeline stores per (segment,
    day) so any group's distinct count (or any union of groups, via
    max-merge on matching buckets) is answerable without rescanning.
    Same md5/bit-exact construction as :func:`hll_registers`; one hash
    aggregate keyed by (group, bucket).

    Output: group cols + ``(bucket, register)``, non-empty registers.
    """
    if m & (m - 1) or m < 16:
        raise ValueError("m must be a power of two >= 16")
    from hiv_data_integration_spark.operators.dedup import md5_long

    h = md5_long(F.col(value_col) if isinstance(value_col, str) else value_col)
    w = F.shiftright(h, m.bit_length() - 1)
    # rho = (60 - log2(m)) - bitlen(w) + 1; the w == 0 corner saturates.
    # With m=256 this is the global hll_registers' constant 53.
    rc = 62 - m.bit_length()
    rho = F.when(w == 0, F.lit(rc)).otherwise(
        F.lit(rc) - F.length(F.bin(w))
    ).cast("long")
    return (
        df.select(*group_cols, (h % m).alias("bucket"), rho.alias("_rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").cast("long").alias("register"))
    )


def hll_estimate_grouped(
    registers: DataFrame,
    group_cols: list[str],
    m: int = 256,
) -> DataFrame:
    """Raw per-group HLL estimates from a grouped register table, with
    the same exact-rational harmonic numerator as :func:`hll_estimate`
    (``Σ 2^(maxM−M_j)`` in BIGINT over all m registers, absent registers
    contributing ``2^maxM``) — per group, so the only float steps are
    one constant multiply and one division per group row.

    Output: group cols + ``(max_register, harmonic_num, estimate)``.
    """
    alpha = 0.7213 / (1.0 + 1.079 / m)
    stats = registers.groupBy(*group_cols).agg(
        F.max("register").cast("long").alias("max_register"),
        F.count("*").cast("long").alias("_nonempty"),
    )
    joined = registers.join(
        stats.select(*group_cols, "max_register"), group_cols
    )
    num_present = joined.groupBy(*group_cols).agg(
        F.sum(
            F.pow(
                F.lit(2.0),
                (F.col("max_register") - F.col("register")).cast("double"),
            ).cast("long")
        ).alias("_np")
    )
    out = stats.join(num_present, group_cols).withColumn(
        "harmonic_num",
        (
            F.col("_np")
            + (F.lit(m) - F.col("_nonempty"))
            * F.pow(F.lit(2.0), F.col("max_register").cast("double")).cast(
                "long"
            )
        ).cast("long"),
    )
    return out.select(
        *group_cols,
        "max_register",
        "harmonic_num",
        (
            F.lit(alpha * m * m)
            * F.pow(F.lit(2.0), F.col("max_register").cast("double"))
            / F.col("harmonic_num").cast("double")
        ).alias("estimate"),
    )


def range_partition_boundaries(
    df: DataFrame,
    order_cols: list[str],
    n_partitions: int,
) -> DataFrame:
    """Exact range-partition boundary synthesis — the pre-planning step
    for ``repartitionByRange``/sorted-write layouts when you want
    REPRODUCIBLE boundaries instead of Spark's sampled ones: boundary i
    is the exact order statistic at rank ``ceil(i·n/N)`` under the total
    order ``order_cols`` (which must be unique as a tuple for the rank
    to be well-defined). One window rank + an all-integer rank-selection
    filter ``rank·N == ceil`` form — no sampling, no floats, identical
    on any engine.

    At scale the full-sort window is the honest cost of EXACT
    boundaries; use Spark's sampling when approximate is fine. Output:
    ``(boundary_idx, rank)`` + the order columns at each boundary.
    """
    if n_partitions < 2:
        raise ValueError("n_partitions must be >= 2")
    from pyspark.sql.window import Window

    w = Window.orderBy(*order_cols)
    ranked = df.select(*order_cols).withColumn(
        "rank", F.row_number().over(w).cast("long")
    )
    total = ranked.agg(F.max("rank").alias("_n"))
    idx = (
        total.select(
            F.explode(
                F.sequence(F.lit(1), F.lit(n_partitions - 1))
            ).alias("boundary_idx"),
            "_n",
        )
        # rank = ceil(i*n/N) all-integer: (i*n + N-1) div N
        .withColumn(
            "rank",
            (
                (F.col("boundary_idx") * F.col("_n") + F.lit(n_partitions - 1))
                - F.pmod(
                    F.col("boundary_idx") * F.col("_n")
                    + F.lit(n_partitions - 1),
                    F.lit(n_partitions),
                )
            )
            / F.lit(n_partitions),
        )
        .select(
            F.col("boundary_idx").cast("long").alias("boundary_idx"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
    # idx is (N-1) rows — broadcast IT into the ranked table, never the
    # reverse (ranked is data-sized)
    return ranked.join(F.broadcast(idx), "rank").select(
        "boundary_idx", "rank", *order_cols
    )


def coverage_set_census(
    df: DataFrame,
    group_col: str,
    item_col: str,
    pct_num: int = 80,
    pct_den: int = 100,
) -> DataFrame:
    """Coverage-set census ("how many SKUs cover 80% of each brand's
    volume?") — per group, the size of the smallest head of items
    (ordered by count desc, item asc) whose cumulative count reaches
    ``pct_num/pct_den`` of the group total, decided by the all-integer
    comparison ``cum·den >= num·total`` so no floated share can flip
    membership. Two hash aggregates + one window over the ITEM census
    (never the fact table).

    Output: ``(group, n_items, total_count, k_for_pct, head_count)``.
    """
    from pyspark.sql.window import Window

    items = df.groupBy(group_col, item_col).agg(
        F.count("*").cast("long").alias("_c")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("_c").desc(), F.col(item_col)
    )
    wg = Window.partitionBy(group_col)
    ranked = items.select(
        group_col,
        F.col("_c"),
        F.sum("_c").over(wg).cast("long").alias("total_count"),
        F.count("*").over(wg).cast("long").alias("n_items"),
        F.sum("_c").over(w).cast("long").alias("_cum"),
        F.row_number().over(w).cast("long").alias("_rk"),
    )
    covered = ranked.filter(
        F.col("_cum") * F.lit(pct_den) >= F.lit(pct_num) * F.col("total_count")
    )
    return covered.groupBy(group_col).agg(
        # constant per group; min() keeps the agg deterministic by
        # construction (first() is order-dependent in general)
        F.min("n_items").alias("n_items"),
        F.min("total_count").alias("total_count"),
        F.min("_rk").cast("long").alias("k_for_pct"),
        # _cum is monotone in _rk, so the k_for_pct row's cumulative
        # count is simply the minimum _cum among covered rows
        F.min("_cum").cast("long").alias("head_count"),
    )
