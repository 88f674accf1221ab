"""Relational operators: projections, filters, joins, set ops, sorts.

Maps SURVEY.md §2.3 (P1-P7), §2.4 (J1-J7), §2.8 (U1-U3), §2.7 (O1) onto
Catalyst-native DataFrame operations. Scale notes inline: dimension joins
are broadcast, unions are plan-level (no data movement until the consumer
shuffles), and nothing collects to the driver.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "select_prefixed",
    "numeric_columns",
    "broadcast_join",
    "semi_join",
    "anti_join",
    "cross_join_replicate",
    "union_relaxed",
    "topk",
    "salted_join",
    "skyline",
    "dataset_diff",
    "asof_join_last",
    "hierarchy_closure",
    "key_skew_profile",
    "merge_agg_state",
    "stable_row_ids",
    "interval_overlap_join",
    "fifo_allocate",
]


def select_prefixed(
    df: DataFrame, key_cols: list[str], prefixes: tuple[str, ...]
) -> DataFrame:
    """Key columns + every column starting with one of ``prefixes``.

    Reference: prefix-driven projection ``col.startswith((...))`` at
    update_pnls_report/pipeline.py:258-322. Column selection is plan-time
    metadata — no data is touched.
    """
    picked = [c for c in df.columns if c.startswith(prefixes) and c not in key_cols]
    return df.select(*key_cols, *picked)


def numeric_columns(df: DataFrame, exclude: list[str] | None = None) -> list[str]:
    """Names of numeric columns (reference ``pl.selectors.numeric()``,
    update_pnls_report/extract_chu_data.py:206,449)."""
    exclude = set(exclude or [])
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.NumericType) and f.name not in exclude
    ]


def broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | Column,
    how: str = "left",
) -> DataFrame:
    """Fact→dimension equi-join with an explicit broadcast hint (J1-J3, J7).

    The reference's dimension tables (COC names, org units, data-element
    maps — update_pnls_report/extract_ist_data.py:66-79) are tiny relative
    to the fact stream; at 100 TB the only sane physical plan is a broadcast
    hash join, so we hint it rather than rely on the size estimator.
    """
    return fact.join(F.broadcast(dim), on, how)


def semi_join(df: DataFrame, keys: DataFrame, on: list[str]) -> DataFrame:
    """Keep rows whose key appears in ``keys`` (J5).

    The reference emulates this with an inner join against a distinct
    key-only frame (update_pnls_report/utils.py:181-185,203-207);
    ``left_semi`` is the idiomatic Spark mapping — no duplicate blow-up, no
    extra columns, and the right side only ships its keys.
    """
    return df.join(keys.select(*on), on, "left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on: list[str]) -> DataFrame:
    """Complement of :func:`semi_join` (engine extension)."""
    return df.join(keys.select(*on), on, "left_anti")


def cross_join_replicate(df: DataFrame, values: DataFrame) -> DataFrame:
    """Replicate every row of ``df`` across the (small) ``values`` frame (J6).

    Reference: the lazy cross-join island replicating yearly NAOMI rows over
    quarter suffixes (update_pnls_report/pipeline.py:240-256). ``values``
    must be small — Spark broadcasts it (BroadcastNestedLoopJoin), so the
    big side never shuffles.
    """
    return df.crossJoin(F.broadcast(values))


def _common_supertype(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common supertype for union relaxation (mirrors polars'
    ``diagonal_relaxed`` promotion, narrowed to the types the engine uses)."""
    if a == b:
        return a
    numeric_rank: list[type] = [
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.FloatType,
        T.DoubleType,
    ]
    if isinstance(a, T.NumericType) and isinstance(b, T.NumericType):
        if isinstance(a, T.DecimalType) or isinstance(b, T.DecimalType):
            return T.DoubleType()
        ra = numeric_rank.index(type(a)) if type(a) in numeric_rank else len(numeric_rank)
        rb = numeric_rank.index(type(b)) if type(b) in numeric_rank else len(numeric_rank)
        return (a if ra >= rb else b) if max(ra, rb) < len(numeric_rank) else T.DoubleType()
    if isinstance(a, T.TimestampType) or isinstance(b, T.TimestampType):
        if isinstance(a, (T.DateType, T.TimestampType)) and isinstance(
            b, (T.DateType, T.TimestampType)
        ):
            return T.TimestampType()
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    # Anything irreconcilable degrades to string, like polars' relaxed mode.
    return T.StringType()


def union_relaxed(dfs: list[DataFrame]) -> DataFrame:
    """Union by column name with missing-column padding AND dtype relaxation.

    Re-expresses polars ``pl.concat(how="diagonal_relaxed")``
    (update_pnls_report/pipeline.py:326-336, utils.py:229-248).
    ``unionByName(allowMissingColumns=True)`` handles name alignment but
    Spark refuses conflicting dtypes, so shared columns are first cast to
    their least common supertype. Pure plan rewrite — zero data movement.
    """
    dfs = [df for df in dfs if df is not None]
    if not dfs:
        raise ValueError("union_relaxed needs at least one DataFrame")
    if len(dfs) == 1:
        return dfs[0]

    target: dict[str, T.DataType] = {}
    for df in dfs:
        for f in df.schema.fields:
            target[f.name] = (
                f.dataType
                if f.name not in target
                else _common_supertype(target[f.name], f.dataType)
            )

    def conform(df: DataFrame) -> DataFrame:
        cols = [
            F.col(f.name).cast(target[f.name]).alias(f.name)
            if f.dataType != target[f.name]
            else F.col(f.name)
            for f in df.schema.fields
        ]
        return df.select(*cols)

    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        (conform(df) for df in dfs),
    )


def topk(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject
    (per-partition heap + driver merge of k·partitions rows), safe at any
    input scale. Engine extension (SURVEY.md §2.7: absent in reference)."""
    return df.orderBy(*order_by).limit(k)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-resistant equi join: salt the left (skewed) side, replicate the
    right side ``salt`` ways, join on ``keys + _salt``.

    A hot key that would land on one reducer is spread across ``salt``
    shuffle partitions; the right side pays a ``salt``x replication, so use
    this when the right side is too big to broadcast but much smaller than
    the skewed fact (the classic mid-size dimension). Join OUTPUT is
    row-for-row identical to a plain join — salting only changes the
    physical key distribution — so the operator is oracle-checkable against
    the unsalted SQL. AQE's skew-join split handles post-shuffle skew
    automatically; explicit salting additionally spreads the map-side hash
    aggregation and survives single-key pathologies AQE cannot split
    (engine extension; no skew handling exists in the reference).

    The salt is derived from a hash of the left row's non-key columns —
    deterministic, and independent of the join keys so hot keys actually
    spread. Only ``inner`` and ``left`` joins are supported (right/outer
    would multiply unmatched right rows).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    # collision-proof internal key: a user column named "_salt" must survive
    salt_col = "_salt"
    taken = set(left.columns) | set(right.columns)
    while salt_col in taken:
        salt_col += "_"
    non_key = [c for c in left.columns if c not in on] or on
    salt_expr = F.pmod(
        F.crc32(
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in non_key])
        ),
        F.lit(salt),
    ).cast("int")
    l_salted = left.withColumn(salt_col, salt_expr)
    r_salted = right.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i).cast("int") for i in range(salt)]))
    )
    return l_salted.join(r_salted, [*on, salt_col], how).drop(salt_col)


def skyline(
    df: DataFrame, maximize: list[str], broadcast_hint: bool = True
) -> DataFrame:
    """Skyline (Pareto-optimal set) over ``maximize`` metric columns: keep
    rows no other row dominates (>= in every metric, > in at least one).

    Engine extension (cf. "Integration of Skyline Queries into Spark SQL",
    EDBT 2023; nothing comparable in the reference). Planned as a
    broadcast-nested-loop LEFT ANTI self-join on the dominance predicate —
    equivalent to SQL ``NOT EXISTS``, so it is directly oracle-checkable.

    NULL semantics: a row with NULL in any metric is never dominated (every
    comparison involving the NULL is NULL, so no dominator qualifies) and
    appears in the skyline unconditionally — filter nullable metrics first
    if that is not wanted. This matches the SQL ``NOT EXISTS`` oracle.

    Scale path: dominance testing is only quadratic in the CANDIDATE set.
    Run this after aggregation (skylines over raw 100 TB facts are not
    meaningful). For candidate sets too big to broadcast, pass
    ``broadcast_hint=False`` (lets Catalyst plan the nested-loop join
    without shipping the whole set to every task) and pre-prune two-phase:
    per-partition local skyline first — e.g.
    ``skyline(chunk, cols)`` per partition slice, or any cheap dominance
    filter — then this operator over the union of survivors; the result is
    exact because a dominated point is dominated within any subset that
    contains its dominator.
    """
    if not maximize:
        raise ValueError("skyline needs at least one metric column")
    p = df.alias("p")
    q = df.alias("q")
    ge = [F.col(f"q.{c}") >= F.col(f"p.{c}") for c in maximize]
    gt = [F.col(f"q.{c}") > F.col(f"p.{c}") for c in maximize]
    all_ge = reduce(lambda a, b: a & b, ge)
    any_gt = reduce(lambda a, b: a | b, gt)
    right = F.broadcast(q) if broadcast_hint else q
    return p.join(right, all_ge & any_gt, "left_anti")


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    validate_keys: bool = False,
) -> DataFrame:
    """Snapshot diff between two versions of a keyed dataset: one row per
    key with ``diff_status`` in added / removed / changed / unchanged —
    the audit primitive for "what did this pipeline run change".

    Non-key columns are fingerprinted — md5 over LENGTH-PREFIXED string
    projections (``len:value`` per column, ``n`` for NULL), which is
    injective: no separator byte or null-marker collision can make two
    different value tuples hash equal. The projection is portable, so an
    external oracle can reproduce it for string/integer columns;
    floating-point and timestamp columns hash consistently WITHIN Spark
    but their string forms are engine-specific. Versions meet in ONE
    full-outer join on the key. ``compare_cols=[]`` is an explicit
    existence-only diff (added/removed/unchanged; never ``changed``).

    The one-row-per-key contract requires UNIQUE keys on both sides —
    duplicate keys fan the full-outer join out to m×n rows and garble
    counts. Pass ``validate_keys=True`` to pay one extra aggregate per
    side and fail loudly on duplicates (an audit usually WANTS that
    check: duplicate keys are themselves a pipeline defect).

    Scale: the join shuffles each side once on the key columns — the
    minimal movement any content diff needs; the fingerprint collapses
    arbitrarily wide compare-column sets into one 128-bit value per row,
    so the shuffle payload stays narrow no matter how wide the table is.
    """
    compare = (
        compare_cols
        if compare_cols is not None
        else [c for c in old.columns if c not in key_cols]
    )
    missing = [c for c in compare if c not in new.columns]
    if missing:
        raise ValueError(f"dataset_diff: new side lacks compare columns {missing}")
    if validate_keys:
        for side, df in (("old", old), ("new", new)):
            dup = (
                df.groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"dataset_diff: duplicate key in {side} side: "
                    f"{ {k: dup[0][k] for k in key_cols} }"
                )

    def fp(df: DataFrame, alias: str) -> DataFrame:
        parts = []
        for c in compare:
            s = F.col(c).cast("string")
            parts.append(
                F.when(s.isNull(), F.lit("n")).otherwise(
                    F.concat(F.length(s).cast("string"), F.lit(":"), s)
                )
            )
        fp_col = (
            F.md5(F.concat(*parts)) if parts else F.lit("")  # existence-only
        )
        return df.select(*key_cols, fp_col.alias(alias))

    o = fp(old, "_fp_old")
    n = fp(new, "_fp_new")
    joined = o.join(n, key_cols, "full_outer")
    status = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*key_cols, status.alias("diff_status"))


def asof_join_last(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    attach_col: str,
    out_col: str = "asof_value",
) -> DataFrame:
    """As-of join: attach to every left row the ``attach_col`` of the
    LATEST right row with the same key and ``right_ts <= left_ts``
    (inclusive), NULL when no such row exists.

    Implemented as the union-window technique, NOT a range join: tag both
    sides, union, one window per key ordered by (t, side) with a running
    ``last(value, ignoreNulls)`` — the canonical scale formulation
    (a range join materializes every (left, right) pair in the window
    and explodes on active keys; this never materializes pairs and
    shuffles each input exactly once). Right rows sort BEFORE left rows
    at equal timestamps, giving the inclusive <= semantics of a native
    ASOF JOIN. Callers must ensure one right row per (key, right_ts)
    (pre-aggregate otherwise) — as-of is ambiguous under timestamp ties
    in ANY engine.
    """
    from pyspark.sql.window import Window

    clash = {"_t", "_side", "_v", out_col} & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join_last: left side already has column(s) {sorted(clash)}"
        )
    v_type = right.schema[attach_col].dataType
    # presence is encoded by STRUCT-wrapping the attach value: a matched
    # right row carrying a NULL value must shadow earlier non-NULL
    # matches (native ASOF semantics) — a bare NULL sentinel would be
    # skipped by ignorenulls and leak the stale earlier value. Right rows
    # with a NULL timestamp match nothing (the ASOF predicate is
    # three-valued): filtered out, never NULLS-FIRST-sorted to the front.
    r = right.filter(F.col(right_ts).isNotNull()).select(
        *[F.col(c) for c in key_cols],
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(F.col(attach_col).alias("v")).alias("_v"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in key_cols],
    )
    l_ = left.select(
        *[F.col(c) for c in key_cols],
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(T.StructType([T.StructField("v", v_type)])).alias("_v"),
        *[F.col(c) for c in left.columns if c not in key_cols],
    )
    unioned = r.unionByName(l_)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn(
            out_col, F.last("_v", ignorenulls=True).over(w).getField("v")
        )
        .filter(F.col("_side") == 1)
        .drop("_t", "_side", "_v")
    )


def hierarchy_closure(
    edges: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_depth: int = 64,
) -> DataFrame:
    """Ancestor transitive closure of a parent-child hierarchy via Spark's
    recursive CTE (``WITH RECURSIVE``, SQL:1999 linear recursion — Spark 4,
    SPARK-24497). The reference walks org-unit parent chains row-at-a-time
    in Python (`R1/utils.py` org hierarchy handling); here the whole
    closure is one declarative iterative plan: each recursion step is a
    shuffle-join of the frontier against the (small, broadcastable) edge
    table, with Catalyst applying the usual pushdowns per step.

    ``edges`` must have one row per node with its parent (root rows:
    parent NULL or parent == node). Emits one row per (node, ancestor)
    pair including depth 0 (the node itself) — the classic "roll metrics
    up every level of the org tree" enabler: join facts on ``node``, group
    by ``ancestor``.

    ``max_depth`` bounds runaway recursion on cyclic data (Spark enforces
    it via the CTE's LIMIT-style recursion guard; a cycle otherwise loops
    forever). At 100 TB the facts are big but the hierarchy is a dimension:
    the per-step join broadcasts, so the closure costs depth × one
    broadcast-join over the frontier, no quadratic blowup.
    """
    import uuid as _uuid

    spark = edges.sparkSession
    # per-call unique name: two concurrent closures over same-named
    # columns must not replace each other's view between register and sql
    view = f"edges_hc_{_uuid.uuid4().hex[:12]}"
    edges.select(
        F.col(node_col).alias("node"), F.col(parent_col).alias("parent")
    ).createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            WITH RECURSIVE walk (node, ancestor, depth) AS (
                SELECT node, node AS ancestor, 0 AS depth FROM {view}
                UNION ALL
                SELECT w.node, e.parent AS ancestor, w.depth + 1
                FROM walk w
                JOIN {view} e ON w.ancestor = e.node
                WHERE e.parent IS NOT NULL
                  AND e.parent <> w.ancestor
                  AND w.depth < {int(max_depth)}
            )
            SELECT node, ancestor, depth FROM walk
            """
        )
    finally:
        # the returned plan is resolved eagerly by Spark's analyzer, so the
        # temp view is safe to drop once the DataFrame exists
        spark.catalog.dropTempView(view)


def key_skew_profile(df: DataFrame, key_col: str, k: int = 10) -> DataFrame:
    """Join-key skew diagnosis: the ``k`` heaviest key values with their
    exact frequency, share of all rows, and skew ratio (how many times
    the mean per-key load this key carries) — the measurement pass that
    decides whether a join needs ``salted_join`` / AQE skew handling
    before the shuffle falls over at scale.

    All inputs to the ratios are exact BIGINTs (``cnt·n_keys`` and
    ``cnt`` vs totals), each ratio one IEEE division. NULL keys are
    profiled too (they hash to one partition like any other value —
    the most common real-world skew culprit).

    Plan: one key-keyed hash aggregate (map-side combined), a 1-row
    broadcast of the global stats, and a top-k window over the
    key-count table (key-cardinality-sized, not row-sized). Ranking is
    total: count desc, then key string asc.

    Output: ``(rank, key, cnt, total_rows, n_keys, share, skew_ratio)``.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").alias("_total"), F.count("*").alias("_nkeys")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .crossJoin(F.broadcast(stats))
        .select(
            "rank",
            "key",
            "cnt",
            F.col("_total").alias("total_rows"),
            F.col("_nkeys").alias("n_keys"),
            (F.col("cnt").cast("double") / F.col("_total").cast("double")).alias(
                "share"
            ),
            (
                (F.col("cnt") * F.col("_nkeys")).cast("double")
                / F.col("_total").cast("double")
            ).alias("skew_ratio"),
        )
    )


def merge_agg_state(
    old_agg: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: fold a
    DELTA batch into an existing per-key aggregate state without
    re-scanning the base data — the pattern that keeps a 100 TB rollup
    maintainable (daily update cost = O(delta), not O(corpus)).

    The delta first aggregates to the same key grain (map-side combined),
    then ONE full-outer hash join on the keys merges states:
    ``new = coalesce(old, 0) + coalesce(delta, 0)`` per sum column, same
    for the row count. Only distributive aggregates (SUM/COUNT, and
    MIN/MAX for inserts-only) can be maintained this way; AVG derives
    from sum/count downstream. Sums should accumulate in DECIMAL or
    integer types upstream so the merged state is bit-identical to a
    full recompute — the battery entry hash-proves exactly that
    equivalence.

    Output: ``keys + sum_cols + count_col``, one row per live key.
    """
    if not keys or not sum_cols:
        raise ValueError("merge_agg_state: need keys and sum_cols")
    delta_agg = delta.groupBy(*[F.col(k) for k in keys]).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count("*").alias(count_col),
    )
    old = old_agg.select(
        *keys, *[F.col(c).alias(f"_o_{c}") for c in sum_cols],
        F.col(count_col).alias(f"_o_{count_col}"),
    )
    new = delta_agg.select(
        *keys, *[F.col(c).alias(f"_d_{c}") for c in sum_cols],
        F.col(count_col).alias(f"_d_{count_col}"),
    )
    merged = old.join(new, keys, "full_outer")
    zero = F.lit(0)
    out_cols = [F.col(k) for k in keys]
    for c in sum_cols:
        out_cols.append(
            (
                F.coalesce(F.col(f"_o_{c}"), zero)
                + F.coalesce(F.col(f"_d_{c}"), zero)
            ).alias(c)
        )
    out_cols.append(
        (
            F.coalesce(F.col(f"_o_{count_col}"), zero)
            + F.coalesce(F.col(f"_d_{count_col}"), zero)
        ).cast("long").alias(count_col)
    )
    return merged.select(*out_cols)


def stable_row_ids(
    df: DataFrame,
    order_cols: list[str],
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic GLOBAL 1-based row numbers in ``order_cols`` order
    without a single-task sort — the scale-safe replacement for
    ``row_number() OVER (ORDER BY …)`` (whose empty window moves every
    row through one reducer) and for ``monotonically_increasing_id``
    (whose values depend on physical partitioning).

    Two-phase: range-repartition + local sort on the order key, count
    rows per partition (a #partitions-sized driver collect — bounded
    scalar state, like every stats probe in this package), broadcast
    the cumulative offsets back, and add each row's partition-local
    rank. ``order_cols`` must be a TOTAL order (unique keys): the
    global rank is then invariant to the sampled range boundaries, so
    the ids are bit-deterministic even though the partitioning isn't.

    Output: input columns + ``row_id`` (long, 1-based).
    """
    from pyspark.sql.window import Window

    if not order_cols:
        raise ValueError("stable_row_ids: need order_cols")
    part = df.repartitionByRange(
        *( [partitions] if partitions else [] ), *order_cols
    ).sortWithinPartitions(*order_cols)
    with_pid = part.withColumn("_pid", F.spark_partition_id())
    sizes = sorted(
        (r["_pid"], r["cnt"])
        for r in with_pid.groupBy("_pid").agg(
            F.count("*").alias("cnt")
        ).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in sizes:
        offsets[pid] = acc
        acc += cnt
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "_pid int, _offset long",
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.join(F.broadcast(off_df), "_pid")
        .withColumn(
            "row_id",
            (F.col("_offset") + F.row_number().over(w)).cast("long"),
        )
        .drop("_pid", "_offset")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    suffix: str = "_r",
) -> DataFrame:
    """Interval-overlap join: pair every left interval with every right
    interval ON THE SAME KEY that overlaps it — the canonical
    half-open test ``s1 < e2 AND s2 < e1`` (touching intervals do NOT
    overlap). Sessions × campaign windows, shifts × incidents,
    exposure × outcome windows — the temporal-join workhorse beyond
    point-in-interval lookups.

    The equi key bounds the range explosion (the same discipline as
    every range join here — a keyless theta join would not scale);
    the overlap predicate rides as a join residual on the hash join.
    Right-side columns take ``suffix`` on name collisions.

    Output: left columns + (suffixed) right columns, one row per
    overlapping pair.
    """
    if not key_cols:
        raise ValueError("interval_overlap_join: need key_cols")
    lcols = set(left.columns)
    renames = {
        c: f"{c}{suffix}"
        for c in right.columns
        if c in lcols and c not in key_cols
    }
    r = right
    for old, new in renames.items():
        r = r.withColumnRenamed(old, new)
    rs = renames.get(right_start, right_start)
    re_ = renames.get(right_end, right_end)
    joined = left.join(r, key_cols)
    return joined.filter(
        (F.col(left_start) < F.col(re_)) & (F.col(rs) < F.col(left_end))
    )


def fifo_allocate(
    supply: DataFrame,
    demand: DataFrame,
    key_cols: list[str],
    qty_col: str,
    order_cols: list[str],
    id_col: str = "row_id",
    suffix: str = "_d",
) -> DataFrame:
    """FIFO allocation matching: per key, consume supply quantities in
    ``order_cols`` order against demand quantities in the same order,
    emitting one row per (supply row, demand row) pair with the
    quantity matched — returns netted against shipments, lots against
    orders, refunds against charges. The classic inventory/ledger
    reconciliation that row-at-a-time engines do with a cursor; here it
    is two window prefix sums + one overlap join, fully distributed.

    The interval formulation: a row with cumulative-quantity range
    [cum − qty, cum) matches every opposite-side row whose range
    overlaps (half-open test), and the matched quantity is the exact
    overlap length ``least(hi_s, hi_d) − greatest(lo_s, lo_d)``.
    Total matches are O(n_supply + n_demand) per key (consecutive
    ranges interleave), so output never explodes past the input.

    Contracts: ``order_cols`` must be unique per key on each side
    (prefix sums are otherwise partition-order-dependent); quantities
    accumulate as DECIMAL(28,6) — exact for any sane quantity;
    rows with NULL or non-positive qty are excluded (their empty
    intervals can never match); demand beyond total supply (and vice
    versa) simply emits no rows — reconcile by comparing group sums.

    Scale shape: one window shuffle per side on the keys, then an
    equi join on the keys with the overlap predicate as a residual —
    the per-key candidate space is the same-key pair set, bounded by
    per-key row counts, never a keyless theta join.

    Output: key cols + ``id_col`` (supply) + ``id_col + suffix``
    (demand) + ``qty_matched`` (double).
    """
    from pyspark.sql.window import Window

    if not key_cols:
        raise ValueError("fifo_allocate: need key_cols")
    if not order_cols:
        raise ValueError("fifo_allocate: need order_cols")

    def cum_ranges(df: DataFrame, tag: str) -> DataFrame:
        q = F.col(qty_col).cast("decimal(28,6)")
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(*[F.col(c) for c in order_cols])
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            df.filter(q > 0)
            .select(
                *key_cols,
                F.col(id_col).alias(f"_id{tag}"),
                F.sum(q).over(w).alias(f"_hi{tag}"),
                (F.sum(q).over(w) - q).alias(f"_lo{tag}"),
            )
        )

    s = cum_ranges(supply, "s")
    d = cum_ranges(demand, "d")
    pair = s.join(d, key_cols).filter(
        (F.col("_los") < F.col("_hid")) & (F.col("_lod") < F.col("_his"))
    )
    return pair.select(
        *key_cols,
        F.col("_ids").alias(id_col),
        F.col("_idd").alias(f"{id_col}{suffix}"),
        (
            F.least(F.col("_his"), F.col("_hid"))
            - F.greatest(F.col("_los"), F.col("_lod"))
        )
        .cast("double")
        .alias("qty_matched"),
    )
