"""Structured Streaming tests: stream results must equal their batch twins
on the same files (availableNow → memory sink), late-data watermarking,
and the custom applyInPandasWithState operator."""

from __future__ import annotations

import datetime
import time

import pytest
from pyspark.sql import functions as F

from hiv_data_integration_spark import streaming as stx


@pytest.fixture()
def events_dir(spark, tmp_path):
    """A small deterministic events directory written as TWO files so the
    stream sees multiple input splits."""
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def ev(i, minutes, user, value):
        return (
            i,
            base + datetime.timedelta(minutes=minutes),
            user,
            "click",
            float(value),
            "{}",
        )

    rows1 = [ev(1, 0, 1, 10.0), ev(2, 10, 1, 5.0), ev(3, 65, 2, 1.0)]
    rows2 = [ev(4, 70, 2, 2.0), ev(5, 130, 1, 7.0), ev(6, 135, 2, 0.5)]
    path = str(tmp_path / "events")
    sdf1 = spark.createDataFrame(rows1, stx.EVENTS_SCHEMA)
    sdf2 = spark.createDataFrame(rows2, stx.EVENTS_SCHEMA)
    sdf1.coalesce(1).write.mode("append").parquet(path)
    sdf2.coalesce(1).write.mode("append").parquet(path)
    return path


def test_windowed_agg_stream_equals_batch(spark, events_dir):
    stream = stx.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    with stx.memory_table(
        stx.windowed_agg(stream, window="1 hour", watermark="10 minutes"),
        "append",
    ) as result:
        got = {
            (str(r.window_start), r.n_events, r.total_value)
            for r in result.collect()
        }
    batch = stx.windowed_agg(
        spark.read.schema(stx.EVENTS_SCHEMA).parquet(events_dir),
        window="1 hour",
        watermark="10 minutes",
    )
    exp = {
        (str(r.window_start), r.n_events, r.total_value) for r in batch.collect()
    }
    # append-mode stream only emits windows sealed by the watermark; every
    # emitted window must match its batch twin exactly
    assert got <= exp
    assert (str(datetime.datetime(2024, 1, 1, 10, 0)), 2, 15.0) in got


def test_session_window_stream_equals_batch(spark, events_dir):
    stream = stx.read_events_stream(spark, events_dir)
    with stx.memory_table(
        stx.session_window_agg(stream, gap="30 minutes", watermark="1 minute"),
        "append",
    ) as result:
        got = {
            (r.user_id, str(r.session_start), r.n_events)
            for r in result.collect()
        }
    # user 1: events at 10:00+10:10 fuse into one session; 12:10 is its own
    assert (1, "2024-01-01 10:00:00", 2) in got
    batch = stx.session_window_agg(
        spark.read.schema(stx.EVENTS_SCHEMA).parquet(events_dir),
        gap="30 minutes",
        watermark="1 minute",
    )
    exp = {
        (r.user_id, str(r.session_start), r.n_events) for r in batch.collect()
    }
    assert got <= exp


def test_running_user_totals_stateful(spark, events_dir):
    stream = stx.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    with stx.memory_table(stx.running_user_totals(stream), "update") as result:
        rows = result.collect()
    # update mode: one row per user per micro-batch; the LAST row per user
    # carries the final running totals
    final: dict[int, tuple[int, float]] = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.total_value)
    assert final[1] == (3, 22.0)
    assert final[2] == (3, 3.5)
    # state accumulated across micro-batches (2 files -> user 1 appears twice)
    assert len([r for r in rows if r.user_id == 1]) >= 2


def test_stream_interval_join_equals_batch(spark, events_dir):
    """Stream-stream interval self-join (availableNow, multi-file source)
    must produce exactly the batch join's pairs — inner matches emit as
    they form, so no watermark hold-back is involved."""
    stream = stx.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    joined = stx.stream_interval_join(
        stream.select("user_id", "ts", "event_id"),
        stream.select("user_id", "ts", "event_id"),
        "user_id",
        max_delay="1 hour",
        watermark="10 minutes",
    ).select("user_id", "event_id", "r_event_id")
    with stx.memory_table(joined, "append") as result:
        got = {(r.user_id, r.event_id, r.r_event_id) for r in result.collect()}

    batch = spark.read.schema(stx.EVENTS_SCHEMA).parquet(events_dir)
    b = batch.select("user_id", "ts", "event_id")
    exp_rows = stx.stream_interval_join(
        b, b, "user_id", max_delay="1 hour", watermark="10 minutes"
    ).select("user_id", "event_id", "r_event_id")
    exp = {(r.user_id, r.event_id, r.r_event_id) for r in exp_rows.collect()}
    assert got == exp
    # fixture: user 1 events at 10:00/10:10 pair both ways within 1 hour,
    # plus every event self-pairs (delay 0) -> strictly more than 6 rows
    assert (1, 1, 2) in got and (1, 2, 2) in got and (1, 2, 1) not in got
    assert len(got) > 6


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """An event older than the watermark bound arriving in a later
    micro-batch must not resurrect a sealed window."""
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    path = str(tmp_path / "late_events")

    def ev(i, minutes, value):
        return (
            i,
            base + datetime.timedelta(minutes=minutes),
            1,
            "click",
            float(value),
            "{}",
        )

    ckpt = str(tmp_path / "ckpt_late")

    # run 1: events up to 13:00 -> watermark persisted at 12:50 in the
    # checkpoint; the sealed 10:00 window is emitted with value 1.0
    f1 = [ev(1, 5, 1.0), ev(2, 180, 1.0)]
    spark.createDataFrame(f1, stx.EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    out_dir = str(tmp_path / "late_out")
    stream = stx.read_events_stream(spark, path)
    r1 = stx.run_available_now_to_parquet(
        stx.windowed_agg(stream, window="1 hour", watermark="10 minutes"),
        ckpt,
        out_dir,
    )
    by_window = {str(r.window_start): r for r in r1.collect()}
    assert by_window[str(datetime.datetime(2024, 1, 1, 10, 0))].total_value == 1.0

    # run 2 (same checkpoint -> watermark recovered): a very late event for
    # the already-sealed 10:00 window must be discarded, not re-emitted
    time.sleep(1.1)
    f2 = [ev(3, 6, 100.0)]
    spark.createDataFrame(f2, stx.EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    stream2 = stx.read_events_stream(spark, path)
    r2 = stx.run_available_now_to_parquet(
        stx.windowed_agg(stream2, window="1 hour", watermark="10 minutes"),
        ckpt,
        out_dir,
    )
    # the sink accumulated nothing new: the late row was dropped by the
    # recovered watermark, the sealed 10:00 window still reads 1.0
    by_window2 = {str(r.window_start): r.total_value for r in r2.collect()}
    assert by_window2[str(datetime.datetime(2024, 1, 1, 10, 0))] == 1.0
    assert r2.count() == r1.count()


def test_first_seen_dedup_gated_or_working(spark, events_dir):
    """transformWithStateInPandas needs protobuf; without it the operator
    must fail FAST with the remedy (not crash mid-stream). With it, the
    first-seen semantics are asserted end-to-end."""
    stream = stx.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    try:
        import google.protobuf  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False

    if not have_protobuf:
        with pytest.raises(RuntimeError, match="protobuf"):
            stx.first_seen_dedup(stream, ["event_type"])
        return

    out = stx.first_seen_dedup(stream, ["event_type"])
    with stx.memory_table(out, "append") as result:
        rows = {(r.event_type, r.event_id) for r in result.collect()}
    # fixture: all six events are 'click'; batch-1 min (ts, event_id) wins
    assert rows == {("click", 1)}


def test_foreach_batch_accumulates_across_batches(spark, tmp_path, events_dir):
    """Two micro-batches (maxFilesPerTrigger=1) must each merge their
    partial aggregate into the parquet state; the final state equals the
    batch aggregate over all files — exact accumulators, so batch order
    is irrelevant."""
    stream = stx.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    final = stx.foreach_batch_accumulate(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt_fb"),
        key_cols=["user_id"],
        sum_cols={
            "n_events": F.lit(1).cast("long"),
            "sum_value": F.col("value").cast("decimal(18,2)"),
        },
    )
    got = {(r.user_id, r.n_events, float(r.sum_value)) for r in final.collect()}
    assert got == {(1, 3, 22.0), (2, 3, 3.5)}


def test_stream_interval_join_left_outer_nulls(spark, tmp_path, events_dir):
    """Left-outer stream-stream interval join: unmatched left rows emit
    null-extended only in a LATER batch whose processing runs under a
    watermark that already sealed their join window — Spark's documented
    outer-join delay: a finite feed never flushes its tail without new
    data. A heartbeat batch (one far-future event) advances the
    watermark, after which exactly the sealed unmatched lefts appear."""
    import datetime as _dt

    # heartbeat file: far-future event advancing the watermark past the
    # fixture rows' join windows (processed last: alphabetical z_ name,
    # maxFilesPerTrigger=1)
    import glob as _glob
    import shutil as _shutil

    hb = [(99, _dt.datetime(2024, 1, 1, 20, 0, 0), 9, "hb", 0.0, "{}")]
    hb_dir = str(tmp_path / "hb_out")
    spark.createDataFrame(hb, stx.EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(hb_dir)
    # the file source does not recurse into nested directories: the
    # heartbeat must land as a plain FILE beside the fixture part-files
    part = _glob.glob(hb_dir + "/part-*.parquet")[0]
    _shutil.copy(part, events_dir + "/z_heartbeat.parquet")

    # an IDLE input (the filtered-empty right side) pins its watermark at
    # epoch, and the global watermark is the MIN across inputs by default —
    # so outer results would never flush. multipleWatermarkPolicy=max is
    # the documented knob for idle-input outer joins; isolated newSession
    # so the shared conf is untouched.
    s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    stream = (
        s2.readStream.schema(stx.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    left = stream.select("user_id", "ts", "event_id")
    right = stream.filter(F.col("event_type") == "no_such_type").select(
        "user_id", "ts", "event_id"
    )
    l_w = left.withWatermark("ts", "10 minutes")
    r_w = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    ).withWatermark("r_ts", "10 minutes")
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("ts"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 1 hour"))
    )
    joined = l_w.join(r_w, cond, "left_outer").select(
        "user_id", "event_id", "r_event_id"
    )
    with stx.memory_table(joined, "append") as result:
        rows = [(r.user_id, r.event_id, r.r_event_id) for r in result.collect()]
    assert all(r[2] is None for r in rows)
    # the heartbeat batch ran under the post-batch-2 watermark (12:05):
    # exactly the fixture lefts with ts + 1h < 12:05 (events 1 and 2) have
    # sealed windows; the later ones (and the heartbeat itself) stay in
    # state when the finite feed ends
    ids = sorted(r[1] for r in rows)
    # the heartbeat advances the watermark to 19:50 and availableNow runs
    # the extra eviction batch: every fixture left (windows ending by
    # 13:15) flushes null-extended; the heartbeat itself (window ends
    # 21:00 > 19:50) stays in state when the feed ends
    assert set(ids) == {1, 2, 3, 4, 5, 6}
    assert len(ids) == len(set(ids))  # each unmatched left emits once


def test_retry_stream_once_retries_transient_and_propagates_real(spark):
    """The battery's streaming wrapper retries exactly once on a
    transient StreamingQueryException and lets second failures (and
    non-streaming errors) propagate."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hiv_data_integration_spark.battery_ext import _retry_stream_once

    calls = {"n": 0}

    def flaky(spark_, sf_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise StreamingQueryException(
                "CANNOT_WRITE_STATE_STORE transient", stackTrace=""
            )
        return spark_.range(1)

    assert _retry_stream_once(flaky)(spark, "/tmp").count() == 1
    assert calls["n"] == 2

    def always(spark_, sf_dir):
        raise StreamingQueryException(
            "RejectedExecutionException: pool terminated", stackTrace=""
        )

    with pytest.raises(StreamingQueryException):
        _retry_stream_once(always)(spark, "/tmp")

    # an UNRECOGNIZED streaming failure re-raises immediately — a real
    # intermittent bug must not be masked by a lucky second attempt
    unknown_calls = {"n": 0}

    def unknown(spark_, sf_dir):
        unknown_calls["n"] += 1
        raise StreamingQueryException("still broken", stackTrace="")

    with pytest.raises(StreamingQueryException):
        _retry_stream_once(unknown)(spark, "/tmp")
    assert unknown_calls["n"] == 1

    def other(spark_, sf_dir):
        raise ValueError("not a stream error")

    with pytest.raises(ValueError):
        _retry_stream_once(other)(spark, "/tmp")


def test_python_stream_source_replay_contract(spark):
    """The simpleStreamReader offset/replay contract, driven directly:
    offsets advance in step quanta and cap at n; read() returns a
    copyable list_iterator (the engine's prefetch cache copy.copy()s
    it); readBetweenOffsets replays EXACTLY the rows the original
    read() calls produced for any committed range; a drained source
    returns an empty batch at a stationary offset. Then the end-to-end
    entry result is run twice — identical rows both times (the battery
    oracle pins the values; this pins determinism across runs)."""
    import copy

    from hiv_data_integration_spark.battery_ext import (
        _make_seq_stream_source,
        q_python_datasource_stream,
    )

    reader = _make_seq_stream_source()(
        options={"n": "100", "step": "30"}
    ).simpleStreamReader(None)
    off = reader.initialOffset()
    assert off == {"pos": 0}
    seen, offsets = [], [off]
    for _ in range(5):
        it, off = reader.read(off)
        it2 = copy.copy(it)  # the prefetch-cache requirement
        batch = list(it)
        assert list(it2) == batch
        seen.extend(batch)
        offsets.append(off)
    assert [o["pos"] for o in offsets] == [0, 30, 60, 90, 100, 100]
    assert [r[0] for r in seen] == list(range(100))
    # replay any committed range -> identical rows
    assert list(
        reader.readBetweenOffsets({"pos": 30}, {"pos": 90})
    ) == seen[30:90]
    # end-to-end determinism across two full runs
    a = sorted(
        map(tuple, q_python_datasource_stream(spark, "/tmp").collect())
    )
    b = sorted(
        map(tuple, q_python_datasource_stream(spark, "/tmp").collect())
    )
    assert a == b and sum(r[1] for r in a) == 120_000


def test_gif_frame_dhash_bits_and_stub(spark):
    """gif_frame_dhash: bit ci*7+cj set iff cell[ci][cj+1] > cell[ci][cj]
    on a hand-built single-frame GIF (verified against a NumPy
    recomputation of the block sums), and non-GIF payloads yield the
    labeled stub row instead of vanishing."""
    import numpy as np

    from hiv_data_integration_spark.battery_ext import _gif_payloads
    from hiv_data_integration_spark.operators.multimodal import (
        gif_frame_dhash,
        _make_gif_decoder,
    )

    sf = "/root/testdata/sf0.001"
    payloads = _gif_payloads(spark, sf).limit(3)
    out = gif_frame_dhash(payloads).collect()
    dec = _make_gif_decoder()
    by_key = {(r.media_id, r.frame_idx): r.dhash56 for r in out}
    for row in payloads.collect():
        _w, _h, frames = dec(bytes(row.payload))
        for fi, (fw, fh, _d, luma) in enumerate(frames):
            cells = (
                np.frombuffer(luma, dtype=np.uint8)
                .astype(np.int64)
                .reshape(8, fh // 8, 8, fw // 8)
                .sum(axis=(1, 3))
            )
            expect = 0
            for ci in range(8):
                for cj in range(7):
                    if cells[ci][cj + 1] > cells[ci][cj]:
                        expect |= 1 << (ci * 7 + cj)
            assert by_key[(row.doc_id, fi)] == expect
    junk = spark.createDataFrame(
        [(99, bytearray(b"not a gif"))], "doc_id long, payload binary"
    )
    stub = gif_frame_dhash(junk).collect()
    assert len(stub) == 1 and stub[0].decoder == "stub"
    assert stub[0].frame_idx == -1 and stub[0].dhash56 == 0


def test_python_pstream_source_partition_planning(spark):
    """The executor-parallel stream tier, driven directly: latestOffset
    advances one step per trigger and goes stationary at n (what lets
    processAllAvailable terminate); partitions() splits a range into
    the requested executor splits covering it exactly; a fully-pruned
    range yields one empty partition (not an empty list); read() is
    executor-side and generator-friendly. End-to-end, the partitioned
    tier must agree with the simple tier bit-for-bit."""
    from hiv_data_integration_spark.battery_ext import (
        _make_seq_pstream_source,
        q_python_datasource_pstream,
        q_python_datasource_stream,
    )

    reader = _make_seq_pstream_source()(
        options={"n": "100", "step": "40", "parts": "3"}
    ).streamReader(None)
    assert reader.initialOffset() == {"pos": 0}
    assert [reader.latestOffset()["pos"] for _ in range(4)] == [
        40, 80, 100, 100
    ]
    parts = reader.partitions({"pos": 0}, {"pos": 40})
    spans = [(p.s, p.e) for p in parts]
    assert len(spans) == 3 and spans[0][0] == 0 and spans[-1][1] == 40
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    rows = [r for p in parts for r in reader.read(p)]
    assert [r[0] for r in rows] == list(range(40))
    empty = reader.partitions({"pos": 100}, {"pos": 100})
    assert len(empty) == 1 and list(reader.read(empty[0])) == []
    a = sorted(map(tuple, q_python_datasource_pstream(spark, "/tmp").collect()))
    b = sorted(map(tuple, q_python_datasource_stream(spark, "/tmp").collect()))
    assert a == b


@pytest.mark.parametrize("prior", [None, "false", "true"])
def test_trailing_flush_batch_restores_prior_conf(spark, prior):
    """The context manager turns the trailing no-data batch on and puts
    back whatever was set before it, leaving an unset key unset."""
    from hiv_data_integration_spark.battery_ext import _trailing_flush_batch

    key = _trailing_flush_batch._KEY
    session = spark.newSession()
    if prior is not None:
        session.conf.set(key, prior)
    with _trailing_flush_batch(session):
        assert session.conf.get(key) == "true"
    assert session.conf.getAll.get(key) == prior


def test_local_result_logs_arrow_fallback(spark, monkeypatch, caplog):
    """A failed Arrow transfer falls back to rows with a warning naming
    the exception class, and the rows still arrive."""
    import logging

    from hiv_data_integration_spark.battery_ext import _local_result

    def broken(self):
        raise NotImplementedError("no arrow for this type")

    df = spark.range(3)
    monkeypatch.setattr(type(df), "toArrow", broken)
    with caplog.at_level(logging.WARNING):
        out = _local_result(df)
    assert sorted(r.id for r in out.collect()) == [0, 1, 2]
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert any(
        "NotImplementedError" in r.getMessage() and "_local_result" in r.getMessage()
        for r in warnings
    )


def test_memory_table_cleans_up_after_failing_batch(
    spark, tmp_path, events_dir, monkeypatch
):
    """A batch that raises surfaces as the query's error, and the runner
    leaves nothing behind: no checkpoint directory, no temp view, no
    active query."""
    import os
    import tempfile
    import types
    import uuid

    from pyspark.errors.exceptions.captured import StreamingQueryException

    made = []
    real_mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    fixed = uuid.UUID(int=0xFA11ED)
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(stx, "uuid", types.SimpleNamespace(uuid4=lambda: fixed))
    name = f"stream_{fixed.hex[:12]}"

    @F.udf("long")
    def boom(v):
        raise ValueError("batch failure")

    stream = stx.read_events_stream(spark, events_dir).select(
        boom("event_id").alias("x")
    )
    with pytest.raises(StreamingQueryException, match="batch failure"):
        with stx.memory_table(stream, "append") as t:
            t.collect()
    assert made and not [d for d in made if os.path.exists(d)]
    assert name not in {t.name for t in spark.catalog.listTables()}
    assert spark.streams.active == []


def test_memory_table_logs_progress_line(spark, events_dir, caplog):
    """One structured progress line per query: two one-file batches of
    three rows each, trigger time summed over both, and the last batch's
    state rows (two users) for the one state operator."""
    import json
    import logging

    stream = stx.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    with caplog.at_level(logging.INFO, logger="hiv_data_integration_spark.streaming"):
        with stx.memory_table(stream.groupBy("user_id").count(), "complete") as t:
            assert t.count() == 2
    lines = [
        r.getMessage() for r in caplog.records
        if r.name == "hiv_data_integration_spark.streaming"
        and r.getMessage().startswith("stream progress ")
    ]
    assert len(lines) == 1
    summary = json.loads(lines[0].removeprefix("stream progress "))
    assert summary["query"].startswith("stream_")
    assert summary["batches"] == 2
    assert summary["input_rows"] == 6
    assert summary["trigger_ms"] > 0
    assert summary["state_rows"] == [2]


def test_streaming_queries_start_only_in_streaming_package():
    """Every streaming query in the package goes through the one runner
    in ``streaming/``: no other module touches ``writeStream`` or waits on
    a query itself."""
    import ast
    import pathlib

    import hiv_data_integration_spark

    root = pathlib.Path(hiv_data_integration_spark.__file__).parent
    banned = {"writeStream", "awaitTermination", "processAllAvailable"}
    hits = [
        f"{path.relative_to(root)}:{node.lineno} {node.attr}"
        for path in root.rglob("*.py")
        if path.relative_to(root).parts[0] != "streaming"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in banned
    ]
    assert hits == []
