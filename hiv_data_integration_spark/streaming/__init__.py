"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.13 — no watermarks, no windows,
no stateful processing), so this module is pure engine extension: the
streaming twins of the batch time-window operators plus a custom stateful
operator, built on the public Structured Streaming surface:

- file-source ``readStream`` over the events schema
- watermarked tumbling / sliding window aggregation (late-data handling)
- session windows (``F.session_window`` — native state, no Python)
- a custom per-key stateful operator via ``applyInPandasWithState``
  (running per-user counters with timeout-based expiry)
- sinks: :func:`memory_table` (context manager: process everything
  available, yield the result table, always clean up), the durable
  parquet sink with checkpoint recovery, and two ``foreachBatch`` merge
  sinks into parquet state.

Every query in the package is started, awaited and stopped by one
private runner here (a tier-1 test keeps ``writeStream`` out of other
modules). It logs one ``stream progress`` line per query on this
module's logger: batch count, input rows, trigger milliseconds and the
last batch's state-operator row counts.

Scale notes: all aggregations here are incremental state-store operators —
the shuffle is on the grouping key once, state lives in the store, and
watermarks bound state size (without one, 100 TB of history accumulates).
"""

from __future__ import annotations

import json
import logging
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = [
    "EVENTS_SCHEMA",
    "read_events_stream",
    "windowed_agg",
    "session_window_agg",
    "running_user_totals",
    "memory_table",
    "run_available_now_to_parquet",
    "stream_interval_join",
    "first_seen_dedup",
    "foreach_batch_accumulate",
    "foreach_batch_hll_merge",
]

_log = logging.getLogger(__name__)

# Driver testdata events shape (TESTDATA.md; ts stored as timestamp).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over an events directory.

    File sources replay deterministically (exactly-once within a
    checkpoint), which is what makes the batch-parity tests meaningful.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling (or sliding, when ``slide`` given) window agg.

    Emits ``(window_start, window_end, [extra keys], n_events, total_value)``.
    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and dropped from the store.
    """
    keys = extra_keys or []
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *keys)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key: str = "user_id",
) -> DataFrame:
    """Native session windows: per-key activity sessions separated by
    ``gap`` of silence — incremental state-store op, no Python."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col(key),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_RUNNING_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_RUNNING_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def running_user_totals(
    events: DataFrame, state_ttl_minutes: int | None = None
) -> DataFrame:
    """Custom stateful operator: running per-user (count, value-total).

    ``applyInPandasWithState`` demonstrator — arbitrary per-key state the
    built-in aggregations can't express (e.g. decayed counters, dedup
    caches, ML feature state). Emits one row per user per micro-batch with
    the running totals. State is a 2-field struct; update mode.

    ``state_ttl_minutes`` bounds the state store: users idle longer than
    the TTL have their state dropped (processing-time timeout). Leave None
    only for bounded key populations / finite replays — unbounded user
    streams otherwise grow state forever.
    """
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_minutes
        else GroupStateTimeout.NoTimeout
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # self-contained closure (shipped by value to workers)
        if state.hasTimedOut:
            state.remove()
            return
        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        if state_ttl_minutes:
            state.setTimeoutDuration(state_ttl_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_OUT,
        stateStructType=_RUNNING_STATE,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def _log_progress(q: StreamingQuery) -> None:
    """Log one structured line for ``q`` from ``q.recentProgress``: batch
    count, input rows and ``triggerExecution`` ms summed over the batches,
    and the last batch's ``numRowsTotal`` per state operator. Spark keeps
    the last ``spark.sql.streaming.numRecentProgressUpdates`` (100)
    batches."""
    progress = q.recentProgress
    last_ops = progress[-1].stateOperators if progress else []
    summary = {
        "query": q.name,
        "batches": len(progress),
        "input_rows": sum(p.numInputRows for p in progress),
        "trigger_ms": sum(p.durationMs.get("triggerExecution", 0) for p in progress),
        "state_rows": [op.numRowsTotal for op in last_ops],
    }
    _log.info("stream progress %s", json.dumps(summary))


def _run(
    writer: DataStreamWriter, checkpoint_dir: str, available_now: bool = True
) -> None:
    """Start ``writer`` on ``checkpoint_dir``, wait until every input
    available at start is processed, log the progress line and stop.

    An ``availableNow`` query ends by itself, so the wait is
    ``awaitTermination``. Python data-source streams run with
    ``available_now=False``: ``availableNow`` falls back to a single
    batch for them, so they take a 0 ms processing-time trigger (the
    source's offsets set the batch bounds, not the clock) and the wait
    is ``processAllAvailable``, which returns once the source's latest
    offset is committed. Both waits raise the query's own error. The
    query is stopped in ``finally``; stopping a finished query does
    nothing.
    """
    trigger = (
        {"availableNow": True}
        if available_now
        else {"processingTime": "0 milliseconds"}
    )
    q = writer.option("checkpointLocation", checkpoint_dir).trigger(**trigger).start()
    try:
        if available_now:
            q.awaitTermination()
        else:
            q.processAllAvailable()
    finally:
        _log_progress(q)
        q.stop()


@contextmanager
def memory_table(
    stream_df: DataFrame, output_mode: str, available_now: bool = True
) -> Iterator[DataFrame]:
    """Run ``stream_df`` into an in-memory sink and yield its table.

    The batch-parity harness: stream → memory table vs the same
    transformation applied in batch. Each call takes a fresh checkpoint
    and a uuid query name: the memory table holds only one run's output,
    so a resumed checkpoint would yield a table missing what earlier
    runs processed (for incremental runs use a durable sink,
    :func:`run_available_now_to_parquet`).

    The table is looked up in the stream's own session, where the sink
    registers it (for ``battery.read_events_stream`` that is the isolated
    UTC session, not the caller's). Read the table inside the block: on
    exit, error or not, the view is dropped and the checkpoint removed,
    and the query has already been stopped.
    """
    session = stream_df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        _run(
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode),
            ckpt,
            available_now,
        )
        yield session.table(name)
    finally:
        session.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def run_available_now_to_parquet(
    stream_df: DataFrame, checkpoint_dir: str, out_dir: str
) -> DataFrame:
    """availableNow → parquet sink (append mode).

    Unlike the memory sink this supports **checkpoint recovery**, so
    successive runs against a growing source directory resume from the
    persisted offsets + watermark — the incremental-production shape.
    Returns the accumulated sink contents.
    """
    _run(
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir),
        checkpoint_dir,
    )
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(out_dir)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    max_delay: str = "4 hours",
    watermark: str = "24 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — the classic
    click→conversion attribution shape: for each left event, every right
    event of the same key within ``[left.ts, left.ts + max_delay]``.

    ``how="left_outer"`` adds WATERMARK-EXPIRY semantics: a left event
    with no match is held in state until the global watermark passes its
    join-eligibility window (``ts + max_delay``), then emitted once with
    null right columns — the streaming analogue of a batch left join,
    where "no match" can only be declared once late data is impossible.
    Outer emission therefore trails the watermark; a one-shot
    ``availableNow`` run needs a final watermark-advancing batch (or the
    engine's no-data batch) to flush the tail.

    The right side's columns come back ``r_``-prefixed (Spark
    stream-stream joins need distinct attribute names across sides; the
    prefix also makes a SELF-join of one stream source well-defined).
    Both sides carry the watermark and the join predicate carries the
    time-range bound — together they let Spark evict each side's state
    once ``watermark + max_delay`` has passed, which is what keeps a
    100 TB/day dual-stream join's state bounded instead of unbounded.
    Inner-join matches emit as they form (no watermark hold-back), so an
    ``availableNow`` run over static files reproduces the batch join
    exactly.
    """
    clash = [c for c in left.columns if c.startswith("r_")]
    if clash:
        raise ValueError(
            f"stream_interval_join: left side already has r_-prefixed "
            f"columns {clash}, which would collide with the prefixed "
            f"right side — rename them first"
        )
    l_side = left.withWatermark(ts_col, watermark)
    r_side = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    ).withWatermark(f"r_{ts_col}", watermark)
    cond = (
        (F.col(key_col) == F.col(f"r_{key_col}"))
        & (F.col(f"r_{ts_col}") >= F.col(ts_col))
        & (
            F.col(f"r_{ts_col}")
            <= F.col(ts_col) + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l_side.join(r_side, cond, how)


def first_seen_dedup(
    events: DataFrame,
    key_cols: list[str],
    order_cols: list[str] = ("ts", "event_id"),
    payload_cols: list[str] = ("ts", "event_id", "value"),
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """First-occurrence-per-key filter on Spark 4's arbitrary-state API
    (``transformWithStateInPandas``, SPARK-49564): per-key ValueState marks
    keys already emitted; later arrivals are suppressed. Within a
    micro-batch the winner is the minimum of ``order_cols`` (deterministic,
    not arrival order); across batches first-batch-wins — the
    at-least-once → exactly-once ingest gate, with per-key state the
    built-in ``dropDuplicates`` cannot TTL-expire.

    ``state_ttl_minutes`` uses the state store's NATIVE per-value TTL
    (``getValueState(ttlDurationMs=...)``): an idle key's marker is evicted
    by the store itself — no timers, no full-state scans — which is what
    bounds an unbounded keyspace at 100 TB/day. Requires the RocksDB state
    store provider (transformWithState's backing store; set
    ``spark.sql.streaming.stateStore.providerClass`` accordingly).

    Single-key-struct limitation: ``key_cols`` become the grouping key and
    are re-attached to the emitted payload.

    Environment gate: transformWithState's Python worker speaks protobuf
    to the JVM state server (``pyspark/sql/streaming/proto``), so the
    ``protobuf`` package must be importable — without it the stream would
    die mid-run with an opaque worker crash, so we fail fast here with
    the remedy. :func:`running_user_totals` (applyInPandasWithState) and
    ``dropDuplicates`` cover the same shapes without that dependency.
    """
    try:
        from google.protobuf import descriptor as _descriptor  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "first_seen_dedup needs transformWithStateInPandas, whose "
            "Python worker requires the 'protobuf' package (pip install "
            "protobuf). Alternatives without it: streaming dropDuplicates "
            "for plain first-seen, running_user_totals "
            "(applyInPandasWithState) for custom per-key state."
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_cols = list(key_cols)
    order_cols = list(order_cols)
    payload_cols = list(payload_cols)
    out_fields = [events.schema[c] for c in key_cols + payload_cols]
    out_schema = T.StructType(out_fields)
    ttl_ms = state_ttl_minutes * 60 * 1000 if state_ttl_minutes else None

    class FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", "emitted boolean", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._seen.exists():
                return
            first = None
            for pdf in rows:
                cand = pdf.sort_values(order_cols, kind="mergesort").head(1)
                if first is None:
                    first = cand
                else:
                    both = pd.concat([first, cand], ignore_index=True)
                    first = both.sort_values(
                        order_cols, kind="mergesort"
                    ).head(1)
            if first is None:
                return
            self._seen.update((True,))
            out = first[payload_cols].copy()
            for i, kc in enumerate(key_cols):
                out.insert(i, kc, key[i])
            yield out

        def close(self) -> None:
            pass

    return events.groupBy(*key_cols).transformWithStateInPandas(
        statefulProcessor=FirstSeen(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )


def _foreach_batch_merge(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    partial: Callable[[DataFrame], DataFrame],
    combine: Callable[[str], Column],
) -> DataFrame:
    """``foreachBatch`` driver shared by the two merge sinks: per
    micro-batch, ``partial`` builds the batch's rows (key columns plus
    value columns), ``combine`` (``F.sum`` or ``F.max``) merges each value
    column with the stored rows by key, and
    ``operators.fuzzy.upsert_parquet_state`` swaps the result into
    ``state_path``. Runs with availableNow on the caller's durable
    checkpoint and returns the final state read back from
    ``state_path``."""
    from pyspark.sql.utils import AnalysisException

    from hiv_data_integration_spark.operators.fuzzy import (
        upsert_parquet_state,
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        part = partial(batch_df)
        try:
            cur = sp.read.parquet(state_path)
        except AnalysisException:
            cur = None
        if cur is not None:
            part = (
                part.unionByName(cur)
                .groupBy(*key_cols)
                .agg(
                    *[combine(c).alias(c) for c in part.columns if c not in key_cols]
                )
            )
        upsert_parquet_state(sp, state_path, part, key_cols)

    _run(stream.writeStream.foreachBatch(merge).outputMode("update"), checkpoint_dir)
    return stream.sparkSession.read.parquet(state_path)


def foreach_batch_accumulate(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    sum_cols: dict[str, Column],
) -> DataFrame:
    """``foreachBatch`` sink: per micro-batch, aggregate the batch to
    per-key partial sums and MERGE them into a parquet state store
    (read current → add → atomic rename swap via
    ``operators.fuzzy.upsert_parquet_state``). This is the production
    exactly-once sink shape for stores without idempotent writers: the
    checkpoint pins which source files each batch id consumed, and the
    merge is deterministic because every column is an exact accumulator
    (BIGINT counts, DECIMAL sums — commutative, order-free), so a batch
    replay after a crash rewrites the same state.

    ``sum_cols`` maps output name → input expression; each is summed
    within the batch and added across batches. Runs with availableNow
    and returns the final state read back from ``state_path``.

    At scale the state store would be a table format with real MERGE
    (the swap is per-path); the pattern — partial agg per batch, exact
    accumulators, key-wise merge — is unchanged.
    """
    return _foreach_batch_merge(
        stream,
        state_path,
        checkpoint_dir,
        key_cols,
        lambda df: df.groupBy(*key_cols).agg(
            *[F.sum(expr).alias(n) for n, expr in sum_cols.items()]
        ),
        F.sum,
    )


def foreach_batch_hll_merge(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    value_col: str,
    m: int = 256,
) -> DataFrame:
    """Incremental distinct-count maintenance: per micro-batch, build the
    portable HyperLogLog register table (:func:`operators.aggregate.
    hll_registers`) and MAX-MERGE it into a parquet register store (the
    same read→merge→atomic-swap shape as :func:`foreach_batch_accumulate`,
    but with max instead of sum). Because registers are set-semantics,
    the merged state is REPLAY- AND DUPLICATE-INSENSITIVE — a re-delivered
    source file changes nothing, which is the property that makes sketch
    maintenance the easy case of exactly-once streaming: at-least-once
    delivery already yields the exactly-once answer. Returns the final
    register table read back from ``state_path``.
    """
    from hiv_data_integration_spark.operators.aggregate import hll_registers

    return _foreach_batch_merge(
        stream,
        state_path,
        checkpoint_dir,
        ["bucket"],
        lambda df: hll_registers(df, value_col, m),
        F.max,
    )
