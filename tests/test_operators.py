"""Unit tests for library operators without SQL oracles: relaxed union
supertyping, reshape stacking, simhash near-pairs, LSH ANN plumbing,
multimodal mapInPandas stages, sessionization."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from hiv_data_integration_spark.operators import multimodal as mm
from hiv_data_integration_spark.operators import similarity as sim
from hiv_data_integration_spark.operators.dedup import (
    simhash,
    simhash_near_pairs,
    word_shingles,
)
from hiv_data_integration_spark.operators.relational import union_relaxed
from hiv_data_integration_spark.operators.reshape import (
    pad_to_contract,
    stack_by_prefix,
)


def test_union_relaxed_supertypes(spark):
    a = spark.createDataFrame([(1, 1.5)], "k int, v double")
    b = spark.createDataFrame([(2, 7)], "k bigint, v int")
    c = spark.createDataFrame([("x",)], "extra string")
    u = union_relaxed([a, b, c])
    schema = {f.name: f.dataType for f in u.schema.fields}
    assert schema["k"] == T.LongType()
    assert schema["v"] == T.DoubleType()
    assert schema["extra"] == T.StringType()
    rows = sorted(
        [tuple(r) for r in u.collect()], key=lambda t: (t[0] is None, t)
    )
    assert len(rows) == 3
    # missing columns padded with NULL
    assert any(r[0] is None and r[2] == "x" for r in u.collect())


def test_union_relaxed_string_degrade(spark):
    a = spark.createDataFrame([(1,)], "v int")
    b = spark.createDataFrame([("x",)], "v string")
    u = union_relaxed([a, b])
    assert dict((f.name, f.dataType) for f in u.schema.fields)["v"] == T.StringType()
    assert {r["v"] for r in u.collect()} == {"1", "x"}


def test_stack_by_prefix_merges_colliding_names(spark):
    df = spark.createDataFrame(
        [("ou1", 1, 2, 10)],
        "ou string, ind_9_a long, ind_9_b long, ind_10_a long",
    )
    out = stack_by_prefix(
        df,
        ["ou"],
        {"ind_9": 9, "ind_10": 10},
        name_standardizer=lambda c: "val",  # both ind_9 cols collide
    )
    rows = {r["indicateur"]: r["val"] for r in out.collect()}
    assert rows[9] == 3  # 1 + 2 merged deterministically
    assert rows[10] == 10


def test_pad_to_contract_types_and_order(spark):
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    out = pad_to_contract(
        df,
        [("b", T.StringType()), ("missing", T.DoubleType()), ("a", T.LongType())],
    )
    assert out.columns == ["b", "missing", "a"]
    assert [f.dataType for f in out.schema.fields] == [
        T.StringType(),
        T.DoubleType(),
        T.LongType(),
    ]
    assert out.collect()[0]["missing"] is None


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    rows = df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()
    assert rows[0]["sh"] == []
    assert rows[1]["sh"] == ["a b c", "b c d"]


def test_simhash_near_pairs_finds_planted_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " extra"
    far = "completely different words nothing shared here at all ok yes"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    fps = simhash(df, "doc_id", "text", bits=32)
    pairs = simhash_near_pairs(fps, bits=32, blocks=4, max_hamming=6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_lsh_bucket_deterministic(spark):
    planes = sim.deterministic_planes(dim=4, n_planes=3, seed="t")
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    b1 = df.select(sim.hyperplane_lsh_bucket(F.col("embedding"), planes).alias("b")).collect()
    b2 = df.select(sim.hyperplane_lsh_bucket(F.col("embedding"), planes).alias("b")).collect()
    assert [r["b"] for r in b1] == [r["b"] for r in b2]
    assert all(0 <= r["b"] < 8 for r in b1)


def test_decode_media_stub_schema_and_determinism(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "a longer text payload")],
                               "doc_id long, text string")
    decoded = mm.decode_media(mm.attach_payload(df))
    assert "meta" in decoded.columns and "payload" not in decoded.columns
    rows = {r["doc_id"]: r["meta"] for r in decoded.collect()}
    assert rows[1]["n_bytes"] == 5
    assert rows[1]["decoder"] == "stub"
    again = {
        r["doc_id"]: r["meta"]
        for r in mm.decode_media(mm.attach_payload(df)).collect()
    }
    assert rows == again


def _build_png(width: int, height: int, color_type: int = 2) -> bytes:
    """Hand-build a minimal valid PNG with stdlib only (public format:
    signature + IHDR + zlib IDAT + IEND, CRCs included)."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    channels = {0: 1, 2: 3, 6: 4}[color_type]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    # each scanline: filter byte 0 + raw pixels
    raw = b"".join(
        b"\x00" + bytes((x * 7 + y * 13 + c) % 256 for x in range(width)
                        for c in range(channels))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_media_real_png(spark):
    """The real-decoder branch: a genuine PNG byte stream decodes to its
    true dimensions/channels with decoder='png'; a corrupted IDAT falls
    back to the stub instead of reporting bogus dimensions."""
    png_rgb = _build_png(5, 3, color_type=2)
    png_rgba = _build_png(2, 7, color_type=6)
    corrupt = png_rgb[:40] + b"\x00\x00\x00\x00" + png_rgb[44:]  # break IDAT
    df = spark.createDataFrame(
        [(1, bytearray(png_rgb)), (2, bytearray(png_rgba)), (3, bytearray(corrupt))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["meta"] for r in mm.decode_media(df).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (5, 3, 3)
    assert rows[1]["decoder"] == "png"
    assert (rows[2]["width"], rows[2]["height"], rows[2]["channels"]) == (2, 7, 4)
    assert rows[2]["decoder"] == "png"
    assert rows[3]["decoder"] == "stub"
    assert rows[1]["n_bytes"] == len(png_rgb)


def test_decode_audio_real_wav_via_stdlib_wave(spark, tmp_path):
    """Cross-validation against an INDEPENDENT writer: Python's stdlib
    ``wave`` module writes canonical PCM WAVs; our RIFF parser must read
    back the exact parameters wave was given."""
    import wave

    cases = [(1, 8000, 1, 321), (2, 44100, 2, 1000), (3, 16000, 1, 1)]
    payloads = []
    for doc_id, sr, ch, nframes in cases:
        p = tmp_path / f"{doc_id}.wav"
        with wave.open(str(p), "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(bytes(2 * ch * nframes))
        payloads.append((doc_id, bytearray(p.read_bytes())))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    rows = {r["doc_id"]: r["audio"] for r in mm.decode_audio(df).collect()}
    for doc_id, sr, ch, nframes in cases:
        a = rows[doc_id]
        assert a["decoder"] == "wav"
        assert a["sample_rate"] == sr
        assert a["channels"] == ch
        assert a["bits_per_sample"] == 16
        assert a["n_samples"] == nframes
        assert a["duration_micros"] == nframes * 1_000_000 // sr


def test_decode_audio_roundtrip_property(spark, tmp_path):
    """Property test: for ANY (rate, channels, frames) the stdlib wave
    writer produces, decode_audio must read back exactly those params.
    One Spark job over the whole example batch (hypothesis would re-spin
    jobs per example, so examples are pre-generated)."""
    import wave

    from hypothesis import given, settings, strategies as st

    cases = []

    @settings(max_examples=40, deadline=None)
    @given(
        sr=st.integers(min_value=1000, max_value=192000),
        ch=st.integers(min_value=1, max_value=8),
        ns=st.integers(min_value=0, max_value=5000),
    )
    def collect(sr, ch, ns):
        cases.append((sr, ch, ns))

    collect()
    payloads = []
    for i, (sr, ch, ns) in enumerate(cases):
        p = tmp_path / f"prop{i}.wav"
        with wave.open(str(p), "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(bytes(2 * ch * ns))
        payloads.append((i, bytearray(p.read_bytes())))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    rows = {r["doc_id"]: r["audio"] for r in mm.decode_audio(df).collect()}
    for i, (sr, ch, ns) in enumerate(cases):
        a = rows[i]
        assert a["decoder"] == "wav", (i, sr, ch, ns)
        assert (a["sample_rate"], a["channels"], a["n_samples"]) == (sr, ch, ns)
        assert a["duration_micros"] == ns * 1_000_000 // sr


def test_audio_frame_energy_exact_and_fallbacks(spark, tmp_path):
    """Frame energies from real decoded PCM: an independent brute-force
    recomputation over the same samples must agree exactly; short clips
    report 0 frames with NULL peaks; junk falls back to the stub."""
    import struct
    import wave

    import pytest

    sr, n = 8000, 1000
    samples = [((i * 37) % 3000) - 1500 for i in range(n)]
    p = tmp_path / "e.wav"
    with wave.open(str(p), "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(struct.pack("<%dh" % n, *samples))
    short = tmp_path / "short.wav"
    with wave.open(str(short), "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(bytes(2 * 100))  # 100 samples < 400 window

    # independent brute force (no prefix sums)
    win, hop = 400, 160
    n_frames = (n - win) // hop + 1
    energies = [
        sum(s * s for s in samples[f * hop : f * hop + win])
        for f in range(n_frames)
    ]
    exp_peak_e = max(energies)
    exp_peak_f = energies.index(exp_peak_e)

    df = spark.createDataFrame(
        [
            (1, bytearray(p.read_bytes())),
            (2, bytearray(short.read_bytes())),
            (3, bytearray(b"definitely not audio")),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["energy"] for r in mm.audio_frame_energy(df).collect()}
    a = rows[1]
    assert a["decoder"] == "wav"
    assert a["n_stream_samples"] == n
    assert a["n_frames"] == n_frames
    assert a["total_energy"] == sum(s * s for s in samples)
    assert (a["peak_frame"], a["peak_energy"]) == (exp_peak_f, exp_peak_e)
    b = rows[2]
    assert b["decoder"] == "wav" and b["n_frames"] == 0
    assert b["peak_frame"] is None and b["peak_energy"] is None
    assert b["total_energy"] == 0  # silent clip
    assert rows[3]["decoder"] == "stub"
    with pytest.raises(ValueError, match=">= 1"):
        mm.audio_frame_energy(df, hop_samples=0)


def test_decode_audio_riff_padding_and_fallback(spark):
    """The RIFF even-padding rule (odd-length chunk bodies pad one byte)
    must not desync the chunk walk; non-WAV / non-PCM / truncated
    payloads fall back to the labeled stub, never half-parsed values."""
    import struct

    def wav(ch=1, sr=8000, ns=10, pre_chunks=b"", fmt_tag=1):
        ba = ch * 2
        body = bytes(ns * ba)
        chunks = pre_chunks
        chunks += b"fmt " + struct.pack("<IHHIIHH", 16, fmt_tag, ch, sr, sr * ba, ba, 16)
        chunks += b"data" + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    odd_list = b"LIST" + struct.pack("<I", 7) + b"INFOxyz" + b"\x00"
    rows_in = [
        (1, bytearray(wav(ch=2, sr=12000, ns=55, pre_chunks=odd_list))),
        (2, bytearray(b"not audio at all")),
        (3, bytearray(wav(fmt_tag=3))),          # IEEE-float WAV: not PCM
        (4, bytearray(wav()[:20])),              # truncated mid-chunk
        (5, None),
    ]
    df = spark.createDataFrame(rows_in, "doc_id long, payload binary")
    rows = {r["doc_id"]: r["audio"] for r in mm.decode_audio(df).collect()}
    assert rows[1]["decoder"] == "wav"
    assert (rows[1]["sample_rate"], rows[1]["channels"]) == (12000, 2)
    assert rows[1]["n_samples"] == 55
    for bad in (2, 3, 4, 5):
        assert rows[bad]["decoder"] == "stub", bad
    assert rows[5]["n_bytes"] == 0


def _build_gray_png(width: int, height: int, pixel) -> bytes:
    """Hand-build an 8-bit grayscale filter-0 PNG (public format)."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b"".join(
        b"\x00" + bytes(pixel(x, y) % 256 for x in range(width))
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_image_ahash_exact_bits_and_fallbacks(spark):
    """aHash from real decoded pixels: a brute-force independent
    reimplementation over the same pixel function must agree bit-for-bit;
    unsupported surfaces (RGB, non-/8 dims, nonzero filter, junk) fall
    back to the labeled stub."""
    import struct
    import zlib

    w, h = 16, 8
    px = lambda x, y: (5 * x + 11 * y + 3)  # noqa: E731

    # independent brute force (different code path from the operator)
    cw, ch = w // 8, h // 8
    cells = [[0] * 8 for _ in range(8)]
    total = 0
    for y in range(h):
        for x in range(w):
            v = px(x, y) % 256
            cells[y // ch][x // cw] += v
            total += v
    exp_hi = exp_lo = 0
    for i in range(8):
        for j in range(8):
            bit = 1 if 64 * cells[i][j] >= total else 0
            if i < 4:
                exp_hi |= bit << (31 - (i * 8 + j))
            else:
                exp_lo |= bit << (31 - ((i - 4) * 8 + j))

    good = _build_gray_png(w, h, px)
    flat = _build_gray_png(8, 8, lambda x, y: 7)  # constant: every bit 1
    rgb = _build_png(8, 8, color_type=2)
    odd_dims = _build_gray_png(9, 8, px)
    # filter type 1 (Sub) on the first scanline: unsupported -> stub
    raw = b"\x01" + bytes(8) + (b"\x00" + bytes(8)) * 7
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    filt1 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(flat)),
            (3, bytearray(rgb)),
            (4, bytearray(odd_dims)),
            (5, bytearray(filt1)),
            (6, bytearray(b"junk")),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["ahash"] for r in mm.image_ahash(df).collect()}
    assert rows[1]["decoder"] == "png"
    assert (rows[1]["phash_hi"], rows[1]["phash_lo"]) == (exp_hi, exp_lo)
    assert (rows[1]["width"], rows[1]["height"]) == (w, h)
    assert rows[2]["decoder"] == "png"
    assert (rows[2]["phash_hi"], rows[2]["phash_lo"]) == (0xFFFFFFFF, 0xFFFFFFFF)
    for bad in (3, 4, 5, 6):
        assert rows[bad]["decoder"] == "stub", bad
        assert (rows[bad]["phash_hi"], rows[bad]["phash_lo"]) == (0, 0)


def test_temporal_split_purged_boundaries(spark):
    """Boundary rows land exactly: cutoff day trains, (cutoff, cutoff+gap]
    purges, first day past the gap tests; gap=0 means no purged rows."""
    import datetime

    import pytest

    from hiv_data_integration_spark.operators.sampling import (
        temporal_split_purged,
    )

    d = datetime.date
    df = spark.createDataFrame(
        [
            (1, d(2020, 6, 29)), (2, d(2020, 6, 30)),  # train
            (3, d(2020, 7, 1)), (4, d(2020, 7, 30)),   # purged (gap 30)
            (5, d(2020, 7, 31)), (6, d(2021, 1, 1)),   # test
        ],
        "id long, dt date",
    )
    out = {
        r["id"]: r["split"]
        for r in temporal_split_purged(df, "dt", "2020-06-30", 30).collect()
    }
    assert out == {1: "train", 2: "train", 3: "purged", 4: "purged",
                   5: "test", 6: "test"}
    nogap = {
        r["id"]: r["split"]
        for r in temporal_split_purged(df, "dt", "2020-06-30", 0).collect()
    }
    assert "purged" not in nogap.values()
    with pytest.raises(ValueError, match=">= 0"):
        temporal_split_purged(df, "dt", "2020-06-30", -1)


def test_media_type_col_edge_payloads(spark):
    """The native magic sniff must label short, empty, NULL, and
    magic-prefix-only payloads safely: anything that is not a full magic
    match routes to 'unknown' (never NULL, never a false positive)."""
    from hiv_data_integration_spark.battery_ext import _media_type_col

    rows = [
        (1, bytearray(b"\x89PNG\r\n\x1a\n.....")),   # real png magic
        (2, bytearray(b"\x89PNG\r\n")),              # truncated magic
        (3, bytearray(b"RIFF1234WAVEfmt ")),          # wav magic
        (4, bytearray(b"RIFF1234AVI ")),              # riff but not wave
        (5, bytearray(b"")),                          # empty
        (6, None),                                    # null payload
        (7, bytearray(b"RIF")),                       # shorter than magic
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r["mt"]
        for r in df.select(
            "doc_id", _media_type_col().alias("mt")
        ).collect()
    }
    assert out == {1: "png", 2: "unknown", 3: "wav", 4: "unknown",
                   5: "unknown", 6: "unknown", 7: "unknown"}


def test_sample_frames_one_to_many(spark):
    df = spark.createDataFrame([(7, "0123456789abcdef")], "doc_id long, text string")
    frames = mm.sample_frames(mm.attach_payload(df, media_type="video")).collect()
    assert len(frames) == 4
    assert [f["frame_idx"] for f in frames] == [0, 1, 2, 3]
    assert all(f["media_id"] == 7 for f in frames)
    assert all(f["frame_bytes"] == 4 for f in frames)


def _stack_reference_union(df, key_cols, prefix_to_indicator, std):
    """The semantic reference for stack_by_prefix: per-prefix select +
    union_relaxed (the formulation the single-pass explode form replaced —
    kept here as the oracle for equivalence testing)."""
    pieces = []
    for prefix, indicator in prefix_to_indicator.items():
        value_cols = [c for c in df.columns if c.startswith(prefix)]
        if not value_cols:
            continue
        canonical = {}
        for c in value_cols:
            canonical.setdefault(std(c), []).append(c)
        exprs = [F.col(k) for k in key_cols]
        exprs.append(F.lit(indicator).alias("indicateur"))
        for new_name, sources in canonical.items():
            if len(sources) == 1:
                exprs.append(F.col(sources[0]).alias(new_name))
            else:
                # null-preserving: all-NULL merge stays NULL (grouped_sum
                # invariant), else nulls count as 0
                summed = F.coalesce(F.col(sources[0]), F.lit(0))
                any_set = F.col(sources[0]).isNotNull()
                for s in sources[1:]:
                    summed = summed + F.coalesce(F.col(s), F.lit(0))
                    any_set = any_set | F.col(s).isNotNull()
                exprs.append(F.when(any_set, summed).alias(new_name))
        pieces.append(df.select(*exprs))
    return union_relaxed(pieces)


def test_stack_by_prefix_equals_union_reference(spark):
    """Randomized equivalence: explode-of-structs form == per-prefix
    union form on frames with missing columns, type mixes (int/double),
    nulls, and name collisions."""
    import random

    rnd = random.Random(42)
    for trial in range(5):
        n_rows = rnd.randint(1, 8)
        rows = []
        for i in range(n_rows):
            rows.append(
                (
                    f"k{i % 3}",
                    rnd.choice([None, rnd.randint(0, 99)]),
                    rnd.choice([None, rnd.random() * 10]),
                    rnd.choice([None, rnd.randint(0, 9)]),
                    rnd.choice([None, rnd.randint(0, 9)]),
                )
            )
        df = spark.createDataFrame(
            rows, "key string, a_x int, a_y double, b_x int, b_collide int"
        )
        # b_x and b_collide both standardize to "x" under this standardizer
        std = lambda c: "x" if "collide" in c else c.split("_", 1)[1]
        mapping = {"a_": 1, "b_": 2, "zz_": 3}  # zz_ matches nothing
        got = stack_by_prefix(df, ["key"], mapping, std)
        want = _stack_reference_union(df, ["key"], mapping, std)
        assert got.columns == want.columns, (got.columns, want.columns)
        gs = {f.name: f.dataType for f in got.schema.fields}
        ws = {f.name: f.dataType for f in want.schema.fields}
        assert gs == ws, (gs, ws)
        key = lambda r: tuple((v is None, v) for v in r)
        assert sorted([tuple(r) for r in got.collect()], key=key) == sorted(
            [tuple(r) for r in want.collect()], key=key
        ), f"trial {trial}"


def test_salted_join_left_matches_plain(spark):
    from hiv_data_integration_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [("k1", 1), ("k1", 2), ("k2", 3), ("k3", 4)], "k string, v int"
    )
    right = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("kX", "c")], "k string, payload string"
    )
    for how in ("inner", "left"):
        got = sorted(
            [tuple(r) for r in salted_join(left, right, ["k"], how, salt=4).collect()],
            key=str,
        )
        want = sorted(
            [tuple(r) for r in left.join(right, ["k"], how).collect()], key=str
        )
        assert got == want, how
    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], "full")


def test_connected_components_chains_and_canonical(spark):
    """a-b and b-c merge into one cluster without an a-c edge; canonical
    filter keeps the minimum member and all singletons."""
    from hiv_data_integration_spark.operators.dedup import (
        connected_components,
        drop_non_canonical,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 8), (5, 5)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 5: 5}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 7, 8)], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id
        for r in drop_non_canonical(docs, connected_components(pairs)).collect()
    )
    # 2,3 collapse into 1; 8 into 7; 4 untouched (not in any pair)
    assert kept == [1, 4, 7]


def test_connected_components_star_deep_chain(spark, monkeypatch):
    """Skew/depth hardening: a chain of diameter 60 — beyond plain
    propagation's reach at max_iters=10 — converges under the
    large-star/small-star variant in O(log diameter) rounds, and the
    fixpoint matches the propagation answer. Budget -1 keeps the graph
    off the driver union-find, which has no rounds."""
    import pytest

    from hiv_data_integration_spark.operators import dedup
    from hiv_data_integration_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", -1)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=10)
    comp = {
        r.id: r.component
        for r in connected_components(chain, max_iters=10, algorithm="star").collect()
    }
    assert comp == {i: 0 for i in range(61)}


def test_connected_components_star_matches_propagation(spark, monkeypatch):
    """Algorithm equivalence on a deterministic pseudo-random multi-component
    graph: both distributed variants (budget -1 keeps the graph off the
    driver union-find) must land on the identical (id, component)
    fixpoint."""
    from hiv_data_integration_spark.operators import dedup
    from hiv_data_integration_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", -1)

    edges = [((i * 37) % 83 + (i % 5) * 100, (i * 59) % 83 + (i % 5) * 100)
             for i in range(120)]
    # keep self-pairs, and add a node (9999) whose ONLY pair is a self-pair
    # — exact-dedup output contains these, and both variants must keep the
    # node as its own singleton component
    pairs = spark.createDataFrame(
        edges + [(9999, 9999)], "id_a long, id_b long"
    )
    prop = {r.id: r.component for r in connected_components(pairs).collect()}
    star = {
        r.id: r.component
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert prop == star
    assert star[9999] == 9999
    with pytest.raises(ValueError):
        connected_components(pairs, algorithm="bogus")


def test_chunk_documents_windows_and_tail(spark):
    from hiv_data_integration_spark.operators.textops import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, "  ")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_size=4, overlap=2)
    rows = {(r.id, r.chunk_idx): (r.n_tokens, r.chunk) for r in out.collect()}
    # doc 1: starts 0,2,4,6 -> windows of 4 with step 2, short tail kept
    assert rows[(1, 0)] == (4, "a b c d")
    assert rows[(1, 1)] == (4, "c d e f")
    assert rows[(1, 2)] == (3, "e f g")
    assert rows[(1, 3)] == (1, "g")
    # single-token and whitespace-only docs still emit one row
    assert rows[(2, 0)] == (1, "x")
    assert rows[(3, 0)] == (0, "")
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_redact_pii_counts_and_order(spark):
    from hiv_data_integration_spark.operators.textops import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e.org ip 10.0.0.1 tel +33 1 42 68 53 00"),
            (2, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    r1 = out[1]
    assert (r1.n_email, r1.n_ipv4, r1.n_phone) == (2, 1, 1)
    assert "a@b.io" not in r1.redacted and "10.0.0.1" not in r1.redacted
    assert "[REDACTED-email]" in r1.redacted and "[REDACTED-phone]" in r1.redacted
    r2 = out[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_phone) == (0, 0, 0)
    assert r2.redacted == r2.text


def test_winnow_shared_substring_shares_fingerprint(spark):
    """Winnowing guarantee: a shared run of >= window + k - 1 tokens
    yields at least one shared fingerprint HASH between the documents."""
    from hiv_data_integration_spark.operators.textops import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens >= 4+5-1
    df = spark.createDataFrame(
        [
            (1, "prefix one two " + shared + " suffix words here"),
            (2, shared + " completely different ending tokens now"),
            (3, "nothing in common with the others at all whatsoever"),
            (4, "tiny doc"),  # < k tokens -> no fingerprints
        ],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, k=5, window=4)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    # determinism
    again = {}
    for r in winnow_fingerprints(df, k=5, window=4).collect():
        again.setdefault(r.id, set()).add((r.fp_hash, r.fp_pos))
    full = {}
    for r in out.collect():
        full.setdefault(r.id, set()).add((r.fp_hash, r.fp_pos))
    assert again == full


def test_vocab_topk_deterministic_ranking(spark):
    from hiv_data_integration_spark.operators.textops import vocab_topk

    df = spark.createDataFrame(
        [("b b b a a c",), ("a c d",)], "text string"
    )
    rows = [(r.rank, r.token, r.n_occurrences) for r in vocab_topk(df, k=3).collect()]
    # a and b tie at 3 -> token asc breaks the tie
    assert rows == [(1, "a", 3), (2, "b", 3), (3, "c", 2)]


def test_chunk_documents_coverage_property(spark):
    """Property (randomized docs): every token appears in at least one
    chunk; no chunk exceeds chunk_size; stride-aligned chunks reconstruct
    the document exactly when overlap is stripped."""
    import random

    from hiv_data_integration_spark.operators.textops import chunk_documents

    rnd = random.Random(99)
    docs = []
    for i in range(12):
        n = rnd.randint(1, 40)
        docs.append((i, " ".join(f"w{i}_{j}" for j in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cs, ov = 8, 3
    out = chunk_documents(df, chunk_size=cs, overlap=ov)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r.id, []).append((r.chunk_idx, r.n_tokens, r.chunk))
    step = cs - ov
    for i, text in docs:
        chunks = sorted(by_doc[i])
        toks = text.split()
        assert all(n <= cs for _, n, _ in chunks)
        # stripping the first `overlap` tokens of every chunk after the
        # first reconstructs the token stream
        rebuilt = chunks[0][2].split()
        for _, _, c in chunks[1:]:
            rebuilt.extend(c.split()[ov:])
        # trailing chunks shorter than overlap contribute nothing new
        assert rebuilt[: len(toks)] == toks
        assert set(toks) <= {t for _, _, c in chunks for t in c.split()}


def _winnow_python(text, k=5, window=4):
    """Independent pure-Python winnowing oracle (hashlib, no Spark)."""
    import hashlib

    toks = [t for t in text.lower().split() if t]
    grams = [
        (
            int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8], 16),
            i + 1,
        )
        for i in range(len(toks) - k + 1)
    ]
    if not grams:
        return set()
    n_win = max(len(grams) - window + 1, 1)
    return {min(grams[j : j + window]) for j in range(n_win)}


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=3), min_size=0, max_size=30
    )
)
def test_winnow_matches_python_oracle(spark, tokens):
    """Hypothesis: the distributed winnowing selection equals an
    independent per-document Python implementation on random token
    streams (hash ties included — 1-3 char tokens over a 5-letter
    alphabet collide often)."""
    from hiv_data_integration_spark.operators.textops import winnow_fingerprints

    text = " ".join(tokens)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        (r.fp_hash, r.fp_pos)
        for r in winnow_fingerprints(df, k=5, window=4).collect()
    }
    assert got == _winnow_python(text)


def test_repetition_features_handcrafted(spark):
    from hiv_data_integration_spark.operators.textops import (
        ngram_repetition_features,
    )

    # doc 1 "a a a a" (7 chars): top 2-gram "a a" x3 -> 9/7 (unclamped);
    # dup 3-gram "a a a" x2 -> 10/7 clamped to 1.0.
    # doc 2 "a b c d" (7 chars): all grams unique -> top 3/7, dup 0.
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string"
    )
    out = {
        r.id: r
        for r in ngram_repetition_features(
            df, max_top_frac=0.5, max_dup_frac=0.0
        ).collect()
    }
    assert out[1].top_ngram_char_frac == pytest.approx(9 / 7)
    assert out[1].dup_ngram_char_frac == 1.0
    assert out[1].keep is False
    assert out[2].top_ngram_char_frac == pytest.approx(3 / 7)
    assert out[2].dup_ngram_char_frac == 0.0
    assert out[2].keep is True


def test_contamination_check_tiny(spark):
    from hiv_data_integration_spark.operators.textops import contamination_check

    train = spark.createDataFrame(
        [(1, "w x y z a b"), (2, "p q r s")], "doc_id long, text string"
    )
    eval_df = spark.createDataFrame(
        [(100, "x y z a end")], "doc_id long, text string"
    )
    got = {
        r.id: r.n_shared_grams
        for r in contamination_check(train, eval_df, n=4).collect()
    }
    # only doc 1 shares a 4-gram ("x y z a"); doc 2 is clean and absent
    assert got == {1: 1}


def test_hash_split_deterministic_and_proportioned(spark):
    from hiv_data_integration_spark.operators.sampling import hash_split

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(df, "doc_id").collect()}
    # identical assignment regardless of partitioning / row order
    b = {
        r.doc_id: r.split
        for r in hash_split(
            df.repartition(7).orderBy(F.col("doc_id").desc()), "doc_id"
        ).collect()
    }
    assert a == b
    from collections import Counter

    shares = Counter(a.values())
    assert abs(shares["train"] / 1000 - 0.8) < 0.05
    assert abs(shares["val"] / 1000 - 0.1) < 0.03
    assert abs(shares["test"] / 1000 - 0.1) < 0.03
    with pytest.raises(ValueError, match="train"):
        hash_split(df, "doc_id", train=0.9, val=0.2)


def test_stratified_sample_rates(spark):
    from hiv_data_integration_spark.operators.sampling import (
        stratified_sample_flag,
    )

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("xx").alias("lang"),
    )
    out = stratified_sample_flag(
        df, "doc_id", "lang", rates={"en": (1, 2), "zz": (0, 1)}
    )
    kept = out.groupBy("lang").agg(
        F.sum(F.col("sampled").cast("long")).alias("k"),
        F.count("*").alias("n"),
    )
    rows = {r.lang: (r.k, r.n) for r in kept.collect()}
    # en halved (within tolerance), unknown stratum kept whole by default
    assert abs(rows["en"][0] / rows["en"][1] - 0.5) < 0.05
    assert rows["xx"][0] == rows["xx"][1]
    # zero-rate stratum drops everything
    zero = stratified_sample_flag(
        df.withColumn("lang", F.lit("zz")), "doc_id", "lang", rates={"zz": (0, 1)}
    )
    assert zero.filter("sampled").count() == 0


def test_tfidf_topk_ranking_and_ties(spark):
    from hiv_data_integration_spark.operators.textops import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    top1 = {r.id: r.term for r in tfidf_topk(df, k=1).collect()}
    # doc 1: apple tf=2, df=1 -> 2*4/2 = 4.0 beats banana 1*4/3
    # doc 2: banana and cherry tie at 1*4/3 -> term asc picks banana
    # doc 3: cherry 3*4/3 = 4.0 beats durian 1*4/2 = 2.0
    assert top1 == {1: "apple", 2: "banana", 3: "cherry"}


def test_quantize_int8_codes_and_error_bound(spark):
    from hiv_data_integration_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.id: r for r in quantize_int8(df).collect()}
    # scale = 1/127; codes 127, floor(-63.5+0.5) = -63, 0 -> checksum 64
    assert out[1].scale == pytest.approx(1 / 127)
    assert out[1].q_checksum == 64.0
    # dequant error bounded by scale/2 (half-up rounding)
    assert out[1].max_abs_err <= out[1].scale / 2 + 1e-15
    # zero vector: scale 0, all-zero codes, zero error (no div-by-zero)
    assert out[2].scale == 0.0
    assert out[2].q_checksum == 0.0
    assert out[2].max_abs_err == 0.0


def test_scd2_merge_versions_close_and_insert(spark):
    from hiv_data_integration_spark.operators.history import (
        scd2_initial,
        scd2_merge,
    )

    snap1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    hist = scd2_initial(snap1, batch_id=1)
    # batch 2: k=1 unchanged, k=2 changed, k=3 deleted, k=4 new
    snap2 = spark.createDataFrame([(1, "a"), (2, "B"), (4, "d")], "k long, v string")
    out = scd2_merge(hist, snap2, ["k"], ["v"], batch_id=2)
    rows = {(r.k, r.v): (r.valid_from, r.valid_to, r.is_current) for r in out.collect()}
    assert rows == {
        (1, "a"): (1, None, True),
        (2, "b"): (1, 2, False),
        (2, "B"): (2, None, True),
        (3, "c"): (1, 2, False),
        (4, "d"): (2, None, True),
    }
    # a third batch stacks versions: closed history passes through untouched
    snap3 = spark.createDataFrame([(2, "bb")], "k long, v string")
    out2 = scd2_merge(out, snap3, ["k"], ["v"], batch_id=3, close_missing=False)
    r2 = {(r.k, r.v): (r.valid_from, r.valid_to, r.is_current) for r in out2.collect()}
    assert r2[(2, "B")] == (2, 3, False)
    assert r2[(2, "bb")] == (3, None, True)
    # close_missing=False leaves absent keys open
    assert r2[(1, "a")] == (1, None, True)
    assert r2[(4, "d")] == (2, None, True)
    assert r2[(2, "b")] == (1, 2, False)
    assert r2[(3, "c")] == (1, 2, False)


def test_unigram_logprob_float_score_matches_python(spark):
    """The ln-based score is excluded from the cross-engine battery hash
    (libm portability); verify it against a pure-Python recomputation on
    the same engine instead."""
    import math

    from hiv_data_integration_spark.operators.textops import unigram_logprob

    docs = [(1, "a b a c"), (2, "a a"), (3, "b c d")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.id: r for r in unigram_logprob(df).collect()}

    toks = {i: t.lower().split() for i, t in docs}
    freq: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            freq[t] = freq.get(t, 0) + 1
    total = sum(freq.values())
    for i, ts in toks.items():
        s = 0.0
        for t in ts:  # position order, same fold order as the operator
            s += math.log(float(freq[t])) - math.log(float(total))
        assert got[i].n_tokens == len(ts)
        assert got[i].sum_freq == sum(freq[t] for t in ts)
        assert got[i].n_rare == sum(1 for t in ts if freq[t] <= 2)
        assert got[i].avg_logprob == s / len(ts), i


def test_pack_token_budget_boundaries(spark):
    from hiv_data_integration_spark.operators.textops import pack_token_budget

    df = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", "d e"), (3, "en", "f g h i"), (4, "fr", "x")],
        "doc_id long, lang string, text string",
    )
    rows = {r.id: r for r in pack_token_budget(df, budget=4).collect()}
    # en: tokens 3,2,4 -> before 0,3,5 -> shards 0,0,1; offsets 0,3,1
    assert (rows[1].shard_idx, rows[1].shard_offset) == (0, 0)
    assert (rows[2].shard_idx, rows[2].shard_offset) == (0, 3)
    assert (rows[3].shard_idx, rows[3].shard_offset) == (1, 1)
    assert (rows[4].part, rows[4].shard_idx) == ("fr", 0)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_tbl_dispatches_both_events_ts_physical_types(spark, tmp_path):
    """The testdata generator has shipped events.ts as int64-nanos (r1) and
    timestamp[us] (r2+). tbl() must read BOTH: native pass-through for µs,
    nanosAsLong + div-1000 truncation for legacy nanos."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hiv_data_integration_spark.battery import tbl

    ts = [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
          datetime.datetime(2024, 1, 2, 13, 30, 0, 654321)]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["view", "click"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    for unit in ("us", "ns"):
        d = tmp_path / f"sf_{unit}"
        d.mkdir()
        table = pa.table({"event_id": cols["event_id"],
                          "ts": pa.array(ts, pa.timestamp(unit)),
                          **{k: v for k, v in cols.items() if k != "event_id"}})
        pq.write_table(table, str(d / "events.parquet"),
                       coerce_timestamps=None, store_schema=False)
        df = tbl(spark, str(d), "events")
        # the legacy conf is on only while the schema is inferred
        assert _NANOS_AS_LONG not in spark.conf.getAll, unit
        got = sorted(
            r["ts"].replace(tzinfo=None) if r["ts"].tzinfo else r["ts"]
            for r in df.select("ts").collect()
        )
        assert got == ts, (unit, got)


def test_tbl_missing_events_raises_and_leaves_conf_unset(spark, tmp_path):
    """A read error other than the legacy-type one propagates, and the
    caller's session conf is not touched on the way."""
    from pyspark.errors import AnalysisException

    from hiv_data_integration_spark.battery import tbl

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        tbl(spark, str(tmp_path), "events")
    assert _NANOS_AS_LONG not in spark.conf.getAll


def test_new_pipeline_operator_invariants(spark):
    """Structural invariants of the round-3 operators on one deterministic
    corpus: packing offsets stay inside the budget and shards are
    contiguous per stratum; quotas truly cap every stratum; funnel stage
    counts are non-increasing; deciles partition each stratum."""
    from hiv_data_integration_spark.operators.aggregate import funnel_conversion
    from hiv_data_integration_spark.operators.sampling import quota_per_stratum
    from hiv_data_integration_spark.operators.textops import (
        pack_token_budget,
        quality_decile_stats,
    )

    docs = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3], "w " * (1 + (i * 7) % 23)) for i in range(90)],
        "doc_id long, lang string, text string",
    )
    packed = pack_token_budget(docs, budget=32).collect()
    by_part: dict[str, list] = {}
    for r in packed:
        assert 0 <= r.shard_offset < 32
        assert r.shard_idx >= 0
        by_part.setdefault(r.part, []).append(r)
    for part, rows in by_part.items():
        rows.sort(key=lambda r: r.id)
        shard_seq = [r.shard_idx for r in rows]
        assert shard_seq == sorted(shard_seq), part  # monotone in id order

    capped = quota_per_stratum(docs, "lang", "doc_id", 7).collect()
    per = {}
    for r in capped:
        per[r.lang] = per.get(r.lang, 0) + 1
        assert 1 <= r.quota_rank <= 7
    assert all(v <= 7 for v in per.values()) and len(per) == 3

    ev = spark.createDataFrame(
        [(i, 1 + i % 10, ["view", "click", "purchase"][i % 3],
          float(i)) for i in range(60)],
        "event_id long, user_id long, event_type string, ts double",
    )
    funnel = {r.stage: r.n_users for r in
              funnel_conversion(ev, ["view", "click", "purchase"]).collect()}
    assert funnel["view"] >= funnel["click"] >= funnel["purchase"]

    deciles = quality_decile_stats(docs).collect()
    totals: dict[str, int] = {}
    for r in deciles:
        assert 1 <= r.decile <= 10
        totals[r.part] = totals.get(r.part, 0) + r.n_docs
    assert totals == {"en": 30, "fr": 30, "de": 30}


def test_sessionize_wall_clock_gaps_survive_dst_sessions(spark):
    """The gap test is wall-clock (NTZ field) arithmetic, not session-tz
    epoch arithmetic: under a DST-observing session timezone, naive events
    at 01:55 and 03:05 on the US spring-forward date are only 10 epoch
    minutes apart (02:00-03:00 local does not exist), but 70 wall minutes
    — and 70 > the 30-minute gap means TWO sessions. The old
    NTZ->TIMESTAMP->long hop returned one."""
    import datetime as dt

    from hiv_data_integration_spark.operators.aggregate import sessionize

    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    rows = [
        (1, dt.datetime(2024, 3, 10, 1, 55, 0)),
        (1, dt.datetime(2024, 3, 10, 3, 5, 0)),
    ]
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    df = s.createDataFrame(rows, schema)
    out = sessionize(df, "user_id", "ts", gap_minutes=30)
    seqs = sorted(r.session_seq for r in out.collect())
    assert seqs == [1, 2]


def test_incremental_dedup_flags_batch_vs_corpus(spark):
    """Batch-vs-corpus dedup: a near-copy of a corpus doc is flagged, a
    fresh doc passes, a too-short doc (no shingles) passes, and the
    corpus is never paired against itself (corpus-internal duplicates do
    not appear in the output)."""
    from hiv_data_integration_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
            (3, "one two three four five six seven eight nine"),  # internal dup
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta"),  # near-copy of 1
            (11, "totally different words compose this document body"),
            (12, "hi"),  # < shingle_n words
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_matches, r.is_dup)
        for r in incremental_dedup(
            new, corpus, "doc_id", "text", jaccard_threshold=0.6
        ).collect()
    }
    assert out[10] == (1, True)
    assert out[11] == (0, False)
    assert out[12] == (0, False)
    assert set(out) == {10, 11, 12}  # one row per NEW doc only

    # the new side broadcasts: corpus band entries join without shuffling
    plan = (
        incremental_dedup(new, corpus, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_oversized_batch_fails_loudly(spark):
    """The broadcast guard (VERDICT r5 item 3): an ingest batch whose band
    entries would exceed ``max_broadcast_rows`` must raise a clear error
    BEFORE any broadcast is attempted — never an executor OOM — and the
    documented remedy (``broadcast_new=False``) must work on the same
    inputs."""
    from hiv_data_integration_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(i, f"document number {i} with several words") for i in range(40)],
        "doc_id long, text string",
    )
    # bands=4 → cap = 32 // 4 = 8 rows; the 40-row batch must trip it
    with pytest.raises(ValueError, match="too large to broadcast"):
        incremental_dedup(
            new, corpus, "doc_id", "text", max_broadcast_rows=32
        )
    # remedy path: shuffled join, same semantics, no row cap
    out = incremental_dedup(
        new, corpus, "doc_id", "text",
        max_broadcast_rows=32, broadcast_new=False,
    )
    assert out.count() == 40


def test_numeric_histogram_nan_routes_to_null_bin(spark):
    """NaN has no axis position: it must land in bin -1 with NULL edges
    (VERDICT r5 item 1), not inflate the top bin via NaN-is-largest
    ordering — including when NaN is present during auto-bounds."""
    import math

    from hiv_data_integration_spark.operators.aggregate import numeric_histogram

    df = spark.createDataFrame(
        [(0.0,), (5.0,), (10.0,), (float("nan"),), (None,)], "v double"
    )
    out = {r.bin: r for r in numeric_histogram(df, "v", bins=2).collect()}
    assert out[-1].n_rows == 2          # NaN + NULL together
    assert out[-1].bin_lo is None and out[-1].bin_hi is None
    # auto bounds ignored NaN: hi=10 (finite max), not NaN
    assert out[1].bin_hi == 10.0
    assert sum(r.n_rows for r in out.values()) == 5
    # caller-supplied bounds: NaN still -1, out-of-range clamps to edges
    out2 = {
        r.bin: r
        for r in numeric_histogram(df, "v", bins=2, lo=2.0, hi=4.0).collect()
    }
    assert out2[-1].n_rows == 2
    assert out2[0].n_rows == 1          # 0.0 clamped up into bin 0
    assert out2[1].n_rows == 2          # 5.0 and 10.0 clamped into top bin
    assert not any(
        isinstance(r.bin_lo, float) and math.isnan(r.bin_lo)
        for r in out2.values()
    )


def test_mixture_quota_sample_quoted_stratum_column(spark):
    """Stratum columns whose names need backtick quoting (spaces, dashes)
    must work — the weight frame is built from an explicit StructType,
    never interpolated into DDL (VERDICT r5 item 5)."""
    from hiv_data_integration_spark.operators.sampling import (
        mixture_quota_sample,
    )

    df = spark.createDataFrame(
        [(i, "web" if i % 3 else "book-ish source") for i in range(30)],
        "id long, `source kind` string",
    )
    out = mixture_quota_sample(
        df, "source kind", "id", {"web": 2, "book-ish source": 1}
    )
    got = {
        k: v
        for k, v in out.groupBy("source kind").count().collect()
    }
    # n_web=20, n_book=10 → T = min(20//2, 10//1) = 10 → quotas 20 and 10
    assert got == {"web": 20, "book-ish source": 10}


def test_shuffle_shards_deterministic_contiguous_permutation(spark):
    """Shard-local positions are contiguous 1..n, the union of shards is
    exactly the input, the same salt reproduces the identical permutation,
    and a different salt yields a different one."""
    from hiv_data_integration_spark.operators.sampling import shuffle_shards

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df, "doc_id", n_shards=4).collect()
    assert len(a) == 200
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    # 200 uniform docs over 4 shards hit every shard — equality, not
    # subset, so a degenerate constant shard function fails
    assert set(by_shard) == set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # determinism: same salt, same permutation
    b = shuffle_shards(df, "doc_id", n_shards=4).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in a} == {
        (r.doc_id, r.shard, r.pos) for r in b
    }
    # a different salt is a different permutation (astronomically unlikely
    # to collide on 200 rows)
    c = shuffle_shards(df, "doc_id", n_shards=4, salt="epoch2").collect()
    assert {(r.doc_id, r.shard, r.pos) for r in a} != {
        (r.doc_id, r.shard, r.pos) for r in c
    }
    with pytest.raises(ValueError):
        shuffle_shards(df, "doc_id", n_shards=0)


def test_dataset_diff_classifies_all_statuses(spark):
    from hiv_data_integration_spark.operators.relational import dataset_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, None, 40), (5, "e", 50)],
        "k long, s string, v long",
    )
    got = {r.k: r.diff_status for r in dataset_diff(old, new, ["k"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",  # NULL compare value hashes stably via the marker
        5: "added",
    }
    with pytest.raises(ValueError, match="compare columns"):
        dataset_diff(old, new.drop("v"), ["k"])


def test_dataset_diff_injection_safe_and_duplicate_guard(spark):
    """Length-prefixed fingerprints: separator-like bytes and NULL-marker
    look-alikes cannot collide; explicit empty compare set is an
    existence-only diff; validate_keys surfaces duplicate keys."""
    from hiv_data_integration_spark.operators.relational import dataset_diff

    # classic injection pair: ('a\x1fb','c') vs ('a','b\x1fc')
    old = spark.createDataFrame([(1, "a\x1fb", "c")], "k long, x string, y string")
    new = spark.createDataFrame([(1, "a", "b\x1fc")], "k long, x string, y string")
    got = dataset_diff(old, new, ["k"]).collect()[0]
    assert got.diff_status == "changed"

    # NULL vs a literal marker-like value must differ
    old2 = spark.createDataFrame([(1, None)], "k long, x string")
    new2 = spark.createDataFrame([(1, "n")], "k long, x string")
    assert dataset_diff(old2, new2, ["k"]).collect()[0].diff_status == "changed"

    # explicit empty compare set: existence-only (no 'changed' possible)
    assert (
        dataset_diff(old, new, ["k"], compare_cols=[]).collect()[0].diff_status
        == "unchanged"
    )

    # duplicate-key validation
    dup_old = spark.createDataFrame([(1, "a"), (1, "b")], "k long, x string")
    with pytest.raises(ValueError, match="duplicate key"):
        dataset_diff(dup_old, new2, ["k"], validate_keys=True)


def test_compaction_plan_rejects_column_clash(spark):
    from hiv_data_integration_spark.io.layout import compaction_plan

    df = spark.createDataFrame(
        [("a", 1, 10, 99)], "grp string, file_id long, size_bytes long, bin long"
    )
    with pytest.raises(ValueError, match="bin"):
        compaction_plan(df, group_cols=["grp"])


def test_clean_corpus_text_strips_invisibles(spark):
    from hiv_data_integration_spark.operators import textops as tx

    rows = [
        ("a\x00b\x1fc",),            # control chars deleted, tokens merge
        ("x\u200by\u00ady",),  # zero-width + soft hyphen deleted
        ("a    b\tc\nd",),      # NBSP/tab/newline runs -> single spaces
        ("  already clean  ",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "t string")
    got = [
        r.c for r in df.select(
            tx.clean_corpus_text(F.col("t")).alias("c")
        ).collect()
    ]
    assert got[0] == "abc"
    assert got[1] == "xyy"
    assert got[2] == "a b c d"
    assert got[3] == "already clean"
    assert got[4] is None
    # lowercase knob
    low = df.limit(1).select(
        tx.clean_corpus_text(F.lit("A\x00B"), lowercase=True).alias("c")
    ).collect()[0].c
    assert low == "ab"


def test_user_event_sequences_order_and_truncation(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        user_event_sequences,
    )

    rows = [
        # user 1: out-of-order inserts, tie on ts broken by event_id
        (1, "2024-01-01 10:00:02", 3, "c"),
        (1, "2024-01-01 10:00:01", 2, "b"),
        (1, "2024-01-01 10:00:01", 1, "a"),
        (2, "2024-01-01 09:00:00", 4, "x"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {
        r.user: r
        for r in user_event_sequences(
            df, "user_id", "event_type", ["ts", "event_id"], max_len=2
        ).collect()
    }
    assert out[1].sequence == ["a", "b"]  # sorted by (ts, event_id), cut at 2
    assert out[1].n_events == 3 and out[1].seq_len == 2
    assert out[2].sequence == ["x"] and out[2].seq_len == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        user_event_sequences(df, "user_id", "event_type", ["ts"], max_len=0)


def test_trailing_window_features_frame_semantics(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        trailing_window_features,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:05:00", 2.0),
        (1, "2024-01-01 10:05:00", 4.0),   # same-second peer: RANGE includes both
        (1, "2024-01-01 11:30:00", 8.0),   # outside the 1h window of the rest
        (2, "2024-01-01 10:01:00", 16.0),  # other user isolated
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = trailing_window_features(
        df, "user_id", "ts", "value", window_seconds=3600
    ).collect()
    got = sorted(
        ((r.user_id, r.ts.isoformat(), r.value, r.n_trailing, r.sum_trailing)
         for r in out)
    )
    by = {(u, t, v): (n, s) for u, t, v, n, s in got}
    assert by[(1, "2024-01-01T10:00:00", 1.0)] == (1, 1.0)
    # RANGE frame: both 10:05:00 rows are peers -> each sees all three
    assert by[(1, "2024-01-01T10:05:00", 2.0)] == (3, 7.0)
    assert by[(1, "2024-01-01T10:05:00", 4.0)] == (3, 7.0)
    # 11:30 is 85 min after 10:05 -> only itself
    assert by[(1, "2024-01-01T11:30:00", 8.0)] == (1, 8.0)
    assert by[(2, "2024-01-01T10:01:00", 16.0)] == (1, 16.0)


def test_mixture_quota_sample_exact_ratio(spark):
    from hiv_data_integration_spark.operators.sampling import (
        mixture_quota_sample,
    )

    rows = [(i, "a") for i in range(30)] + [(100 + i, "b") for i in range(8)] \
        + [(200 + i, "c") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    # weights a:b = 3:1; b binds: T = min(30//3, 8//1) = 8 -> a keeps 24, b 8
    kept = mixture_quota_sample(df, "src", "doc_id", {"a": 3, "b": 1}).collect()
    by = {}
    for r in kept:
        by.setdefault(r.src, []).append(r.doc_id)
    assert len(by["a"]) == 24 and len(by["b"]) == 8
    assert "c" not in by  # unweighted stratum dropped
    # deterministic: same call, same rows
    again = mixture_quota_sample(df, "src", "doc_id", {"a": 3, "b": 1}).collect()
    assert {(r.src, r.doc_id) for r in kept} == {(r.src, r.doc_id) for r in again}
    # a different salt redraws (a keeps 24 of 30 -> overlap certain, equality
    # astronomically unlikely)
    redraw = mixture_quota_sample(
        df, "src", "doc_id", {"a": 3, "b": 1}, salt="epoch2"
    ).collect()
    assert {(r.src, r.doc_id) for r in kept} != {(r.src, r.doc_id) for r in redraw}
    with pytest.raises(ValueError):
        mixture_quota_sample(df, "src", "doc_id", {})
    with pytest.raises(ValueError):
        mixture_quota_sample(df, "src", "doc_id", {"a": 0})


def test_ngram_prefix_filter_equals_full_join(spark):
    """The PPJoin-style prefix filter must lose nothing: identical pairs
    to the unfiltered posting join on a corpus with hot boilerplate
    shingles (the case the prefix ordering exists for)."""
    from hiv_data_integration_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    boiler = "terms of service apply to all users"
    rows = [
        (1, f"{boiler} alpha beta gamma delta"),
        (2, f"{boiler} alpha beta gamma epsilon"),
        (3, f"{boiler} zeta eta theta iota"),
        (4, "completely unrelated text with nothing shared here"),
        (5, f"{boiler} alpha beta gamma delta"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r.id_a, r.id_b, r.jaccard) for r in ngram_jaccard_pairs(
        df, "doc_id", "text", 3, 0.3).collect()}
    pref = {(r.id_a, r.id_b, r.jaccard) for r in ngram_jaccard_prefix_pairs(
        df, "doc_id", "text", 3, 0.3).collect()}
    assert full == pref and (1, 5, 1.0) in full


def test_ngram_prefix_guard_candidate_mass(spark, caplog):
    """The r11 candidate-mass guard: on a bounded-vocabulary corpus
    (every doc the same template — the shape SCALE.md §11 measured at
    31× wall) the prefix filter must detect its own degenerate candidate
    set from the df profile and fall back to the df-cap path; on a
    healthy skewed corpus the cheap stage-1 bound approves the exact
    path without ever computing the prefix mass."""
    from hiv_data_integration_spark.operators.dedup import (
        ngram_jaccard_dfcap_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    # degenerate: 40 identical docs -> every shingle df = 40, prefix
    # mass ~ n_docs² regardless of the rare-first ordering
    degen = spark.createDataFrame(
        [(i, "aaa bbb ccc ddd eee") for i in range(40)],
        "doc_id long, text string",
    )
    rep: dict = {}
    import logging

    with caplog.at_level(
        logging.WARNING, logger="hiv_data_integration_spark.operators.dedup"
    ):
        out = ngram_jaccard_prefix_pairs(
            degen, "doc_id", "text", 3, 0.5,
            guard_candidate_factor=4.0, guard_report=rep,
        )
    # the fallback must be LOUD even without guard_report plumbed in
    assert any(
        "candidate-mass guard" in r.getMessage()
        for r in caplog.records if r.levelno == logging.WARNING
    )
    assert rep["fallback"] is True and rep["stage"] == 2
    assert rep["candidate_mass"] > rep["budget"] >= rep["postings"] * 4
    capped = ngram_jaccard_dfcap_pairs(
        degen, "doc_id", "text", 3, 0.5, df_cap=64
    )
    key = lambda r: (r.id_a, r.id_b)  # noqa: E731
    assert sorted(map(key, out.collect())) == sorted(
        map(key, capped.collect())
    )

    # healthy: hot boilerplate + rare tails -> stage-1 bound approves,
    # exact path, bit-identical to the unfiltered join
    boiler = "terms of service apply to all users"
    healthy = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} alpha beta gamma epsilon"),
            (3, f"{boiler} zeta eta theta iota"),
            (4, "completely unrelated text with nothing shared here"),
            (5, f"{boiler} alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    rep2: dict = {}
    pref = ngram_jaccard_prefix_pairs(
        healthy, "doc_id", "text", 3, 0.3, guard_report=rep2
    )
    assert rep2["fallback"] is False and rep2["stage"] == 1
    full = {(r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                healthy, "doc_id", "text", 3, 0.3).collect()}
    assert {(r.id_a, r.id_b, r.jaccard) for r in pref.collect()} == full


def test_asof_join_last_semantics(spark):
    """Union-window as-of join: inclusive <=, latest-right-wins, NULL when
    no prior right row, per-key isolation, column-clash guard."""
    from hiv_data_integration_spark.operators.relational import asof_join_last

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 10, "x")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (3, 1, "zz")],
        "k long, t long, v string",
    )
    out = {
        r.tag: r.asof_value
        for r in asof_join_last(left, right, ["k"], "t", "t", "v").collect()
    }
    assert out["e0"] is None       # no right row at or before t=5
    assert out["e1"] == "r10"      # inclusive: right at t=10 visible at t=10
    assert out["e2"] == "r15"      # latest of r10/r15
    assert out["x"] is None        # key 2 has no right rows at all
    with pytest.raises(ValueError, match="asof_join_last"):
        asof_join_last(
            left.withColumn("_side", F.lit(1)), right, ["k"], "t", "t", "v"
        )


def test_asof_join_last_null_value_and_null_ts(spark):
    """Native-ASOF parity on the NULL edges: a matched right row carrying
    a NULL value SHADOWS earlier non-NULL matches (no stale leak), and a
    right row with a NULL timestamp matches nothing."""
    from hiv_data_integration_spark.operators.relational import asof_join_last

    left = spark.createDataFrame([(1, 20, "e")], "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, 5, "x"), (1, 10, None), (1, None, "poison")],
        "k long, t long, v string",
    )
    out = asof_join_last(left, right, ["k"], "t", "t", "v").collect()[0]
    assert out.asof_value is None  # t=10 NULL-valued match shadows t=5 'x'

    left2 = spark.createDataFrame([(2, 1, "early")], "k long, t long, tag string")
    right2 = spark.createDataFrame([(2, None, "poison")], "k long, t long, v string")
    out2 = asof_join_last(left2, right2, ["k"], "t", "t", "v").collect()[0]
    assert out2.asof_value is None  # NULL-ts right row never matches


def test_mixture_quota_sample_absent_stratum_empty(spark):
    """A weighted stratum absent from the data makes the mixture
    unsatisfiable: T = 0 and the result is empty (matching the oracle's
    LEFT-join semantics), not a silent drop of the missing stratum."""
    from hiv_data_integration_spark.operators.sampling import (
        mixture_quota_sample,
    )

    df = spark.createDataFrame([(i, "a") for i in range(10)], "doc_id long, src string")
    out = mixture_quota_sample(df, "src", "doc_id", {"a": 1, "ghost": 1})
    assert out.count() == 0
    with pytest.raises(ValueError, match="mix_rank"):
        mixture_quota_sample(
            df.withColumn("mix_rank", F.lit(1)), "src", "doc_id", {"a": 1}
        )


def test_numeric_histogram_bins_and_nulls(spark):
    from hiv_data_integration_spark.operators.aggregate import numeric_histogram

    df = spark.createDataFrame(
        [(0.0,), (2.5,), (5.0,), (9.99,), (10.0,), (None,)], "v double"
    )
    out = {r.bin: r for r in numeric_histogram(df, "v", bins=4).collect()}
    # lo=0, hi=10, width=2.5; 10.0 clamps into the LAST bin (3), not bin 4
    assert out[-1].n_rows == 1 and out[-1].bin_lo is None
    assert out[0].n_rows == 1          # 0.0
    assert out[1].n_rows == 1          # 2.5 -> floor(1.0) = bin 1
    assert out[3].n_rows == 2          # 9.99 and the clamped 10.0
    assert out[0].bin_lo == 0.0 and out[0].bin_hi == 2.5
    assert sum(r.n_rows for r in out.values()) == 6
    # degenerate constant column: single bin 0
    const = spark.createDataFrame([(7.0,), (7.0,)], "v double")
    got = numeric_histogram(const, "v", bins=4).collect()
    assert len(got) == 1 and got[0].bin == 0 and got[0].n_rows == 2
    with pytest.raises(ValueError):
        numeric_histogram(df, "v", bins=0)


def test_completeness_profile_counts(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        completeness_profile,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "x long, s string"
    )
    out = {r.column: r for r in completeness_profile(df, ["x", "s"]).collect()}
    assert out["x"].n_rows == 4 and out["x"].n_nonnull == 3
    assert out["x"].n_nulls == 1 and out["x"].n_distinct == 3
    assert out["s"].n_nonnull == 3 and out["s"].n_distinct == 2
    with pytest.raises(ValueError):
        completeness_profile(df, [])


def test_line_dedup_first_occurrence_wins(spark):
    """Corpus-wide exact line dedup: the smallest (doc, pos) occurrence of
    a long-enough line survives, every later occurrence (same doc or
    later doc) drops, and short lines always survive."""
    from hiv_data_integration_spark.operators.textops import line_dedup

    df = spark.createDataFrame(
        [
            (1, "SHARED BOILERPLATE LINE\nunique first body line\nok"),
            # same boilerplate later -> dropped; own body kept
            (2, "unique second body line\nSHARED BOILERPLATE LINE"),
            # within-doc duplicate: second occurrence dropped
            (3, "repeated within document\nrepeated within document\nok"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in line_dedup(df, "doc_id", "text", min_line_chars=10).collect()
    }
    assert out[1].n_lines == 3 and out[1].n_dropped == 0
    assert (
        out[1].text_clean
        == "SHARED BOILERPLATE LINE\nunique first body line\nok"
    )
    assert out[2].n_dropped == 1
    assert out[2].text_clean == "unique second body line"
    assert out[3].n_dropped == 1
    assert out[3].text_clean == "repeated within document\nok"
    # 'ok' (< 10 chars) survives in BOTH docs — short lines never dedup
    assert out[1].text_clean.endswith("ok") and out[3].text_clean.endswith("ok")


def test_normalize_url_and_domain(spark):
    """URL canonicalization: scheme/www/fragment/tracking params strip,
    global replacement (multiple utm params in one URL), query tidy-up,
    trailing slash."""
    from pyspark.sql import functions as F

    from hiv_data_integration_spark.operators.textops import (
        normalize_url,
        url_domain,
    )

    cases = [
        ("HTTPS://WWW.Example.COM/a/?utm_source=x&utm_medium=y#frag",
         "example.com/a"),
        ("http://example.com/a?id=2&utm_campaign=z", "example.com/a?id=2"),
        ("https://news.site.org/p?utm_a=1&id=3&utm_b=2&fbclid=q",
         "news.site.org/p?id=3"),
        ("example.com/bare/", "example.com/bare"),
        ("https://a.b/x?gclid=1", "a.b/x"),
        # the [?&] boundary: 'ref' must not eat the tail of href=/pref=
        ("https://a.b/x?href=q&pref=1&ref=spam", "a.b/x?href=q&pref=1"),
        # removed param owned the '?': survivor's '&' promotes to '?'
        ("https://a.b/p?utm_source=f&keep=1", "a.b/p?keep=1"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    rows = df.select(
        "want",
        normalize_url(F.col("url")).alias("got"),
    ).collect()
    for r in rows:
        assert r.got == r.want, (r.got, r.want)
    d = df.select(
        url_domain(normalize_url(F.col("url"))).alias("d")
    ).collect()
    assert [r.d for r in d] == [
        "example.com", "example.com", "news.site.org", "example.com",
        "a.b", "a.b", "a.b",
    ]


def test_hierarchy_closure_semantics(spark):
    from hiv_data_integration_spark.operators.relational import (
        hierarchy_closure,
    )

    # chain 1<-2<-4, root via NULL parent; 3's root declares parent==self
    edges = spark.createDataFrame(
        [(1, None), (2, 1), (4, 2), (3, 3)], "node long, parent long"
    )
    got = {
        (r.node, r.ancestor, r.depth)
        for r in hierarchy_closure(edges).collect()
    }
    assert got == {
        (1, 1, 0),
        (2, 2, 0), (2, 1, 1),
        (4, 4, 0), (4, 2, 1), (4, 1, 2),
        (3, 3, 0),  # self-parent = root: no self-loop walk
    }


def test_hierarchy_closure_cycle_bounded(spark):
    from hiv_data_integration_spark.operators.relational import (
        hierarchy_closure,
    )

    # 2-cycle: 10<->11. max_depth must bound the walk instead of looping
    # forever; each node still reports itself plus alternating ancestors.
    edges = spark.createDataFrame(
        [(10, 11), (11, 10)], "node long, parent long"
    )
    rows = hierarchy_closure(edges, max_depth=5).collect()
    assert max(r.depth for r in rows) <= 6
    assert (10, 11, 1) in {(r.node, r.ancestor, r.depth) for r in rows}


def test_gap_fill_locf_semantics(spark):
    import datetime

    from hiv_data_integration_spark.operators.aggregate import gap_fill_locf

    t = lambda h: datetime.datetime(2024, 3, 1, h, 15, 0)  # noqa: E731
    rows = [
        # user 1: events in hours 10 and 13 -> 11,12 filled with hour-10 sum
        (1, t(10), 2.0), (1, t(10), 3.0), (1, t(13), 7.0),
        # user 2: single hour -> 1-row grid, nothing filled
        (2, t(5), 1.5),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = gap_fill_locf(df, "user_id", "ts", F.col("value")).collect()
    got = {
        (r.key, r.bucket_ts.hour, float(r.value), r.filled) for r in out
    }
    assert got == {
        (1, 10, 5.0, False),
        (1, 11, 5.0, True),
        (1, 12, 5.0, True),
        (1, 13, 7.0, False),
        (2, 5, 1.5, False),
    }


def test_dsir_resample_prefers_target_vocabulary(spark):
    """On a corpus where target docs use disjoint vocabulary, the
    importance weight must separate: docs sharing the target's tokens get
    high weights, alien-vocabulary docs get low ones (the driver testdata
    cannot show this — its text is decorrelated from lang by
    construction, so battery weights cluster near the prior)."""
    from hiv_data_integration_spark.operators.textops import (
        dsir_importance_resample,
    )

    rows = (
        # target domain: cooking vocabulary
        [(i, "flour sugar butter oven bake whisk", True) for i in range(8)]
        # in-domain candidates (not flagged target, same vocabulary)
        + [(100 + i, "sugar butter bake oven flour", False) for i in range(4)]
        # out-of-domain: disjoint vocabulary
        + [(200 + i, "carburetor piston gasket torque", False) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = dsir_importance_resample(df, F.col("is_t"))
    w = {r.id: r.weight for r in out.collect()}
    in_dom = [w[k] for k in w if 100 <= k < 200]
    out_dom = [w[k] for k in w if k >= 200]
    assert in_dom and min(in_dom) > 0.5           # mostly target evidence
    assert all(v < 0.1 for v in out_dom) or not out_dom  # alien vocab -> tiny w


def test_pagerank_fixed_point_semantics(spark):
    from hiv_data_integration_spark.operators.dedup import (
        pagerank_fixed_point,
    )

    # star 2,3,4 -> 1 plus chain 5 -> 4: the hub must outrank the mid
    # node, which outranks the leaves; leaves sit exactly at base + 0
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (5, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "node long")
    r = {x.node: x.rank_fp for x in pagerank_fixed_point(edges, nodes).collect()}
    assert r[1] > r[4] > r[2] == r[3] == r[5]
    # exact reproducibility: integer arithmetic, not floats
    r2 = {x.node: x.rank_fp for x in pagerank_fixed_point(edges, nodes).collect()}
    assert r == r2
    # dangling mass is dropped, never created
    assert sum(r.values()) <= 10**12
    import pytest as _pt
    with _pt.raises(ValueError):
        pagerank_fixed_point(edges, nodes.filter("node > 99"))


# ---------------------------------------------------------------------------
# duplicate_ngram_spans / triangle_count / count-min / kfold / bm25 (r5)
# ---------------------------------------------------------------------------


def test_duplicate_ngram_spans_cross_doc_run(spark):
    from hiv_data_integration_spark.operators.textops import (
        duplicate_ngram_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    df = spark.createDataFrame(
        [
            (1, "x1 y1 " + shared + " z1 w1"),
            (2, "p2 " + shared + " q2 r2 s2"),
            (3, "totally unrelated words only here now"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id, r.span_start, r.span_tokens)
        for r in duplicate_ngram_spans(df, n=5).collect()
    }
    # 7 shared tokens → 3 consecutive duplicated 5-grams → one span of 7
    assert out == {(1, 2, 7), (2, 1, 7)}


def test_duplicate_ngram_spans_within_doc_repeat(spark):
    from hiv_data_integration_spark.operators.textops import (
        duplicate_ngram_spans,
    )

    rep = "one two three four five"
    df = spark.createDataFrame(
        [(1, rep + " filler " + rep)], "doc_id long, text string"
    )
    out = [tuple(r) for r in duplicate_ngram_spans(df, n=5).collect()]
    # the 5-gram repeats at positions 0 and 6
    assert sorted(out) == [(1, 0, 5), (1, 6, 5)]


def test_duplicate_ngram_spans_min_tokens_filter(spark):
    from hiv_data_integration_spark.operators.textops import (
        duplicate_ngram_spans,
    )

    shared = "a b c d e"
    df = spark.createDataFrame(
        [(1, shared + " x"), (2, shared + " y")], "doc_id long, text string"
    )
    assert (
        duplicate_ngram_spans(df, n=5, min_span_tokens=6).count() == 0
    )
    assert (
        duplicate_ngram_spans(df, n=5, min_span_tokens=5).count() == 2
    )


def test_triangle_count_known_graph(spark):
    from hiv_data_integration_spark.operators.dedup import triangle_count

    # two triangles sharing edge (2,3): {1,2,3} and {2,3,4}; plus a
    # dangling edge (4,5). Fed as DIRECTED duplicates to exercise
    # canonicalization.
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 1), (2, 3), (3, 1), (1, 3),
            (3, 2), (2, 4), (3, 4), (4, 5),
        ],
        "src long, dst long",
    )
    out = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert out == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_count_no_triangles(spark):
    from hiv_data_integration_spark.operators.dedup import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert triangle_count(edges).count() == 0


def test_countmin_upper_bound_and_wide_exactness(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        countmin_build,
        countmin_query,
    )

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    probes = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 1), ("zz", 0)], "k string, exact long"
    )
    # narrow sketch: estimates are upper bounds
    cms = countmin_build(df, "k", depth=2, width=2)
    est = {
        r.k: r.cms_est
        for r in countmin_query(cms, probes, "k", depth=2, width=2).collect()
    }
    assert est["a"] >= 5 and est["b"] >= 3 and est["c"] >= 1
    # wide sketch: no collisions among 3 keys → exact, and absent key → 0
    cms_w = countmin_build(df, "k", depth=4, width=4096)
    est_w = {
        r.k: r.cms_est
        for r in countmin_query(
            cms_w, probes, "k", depth=4, width=4096
        ).collect()
    }
    assert est_w == {"a": 5, "b": 3, "c": 1, "zz": 0}


def test_kfold_assign_deterministic_and_partitioned(spark):
    from hiv_data_integration_spark.operators.sampling import kfold_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "id long")
    a = {r.id: r.fold for r in kfold_assign(df, "id", k=5).collect()}
    b = {
        r.id: r.fold
        for r in kfold_assign(df.repartition(7), "id", k=5).collect()
    }
    assert a == b  # content-addressed, partitioning-independent
    assert set(a.values()) == {0, 1, 2, 3, 4}
    with pytest.raises(ValueError):
        kfold_assign(df, "id", k=1)


def test_bm25_ranks_matching_doc_first(spark):
    from hiv_data_integration_spark.operators.textops import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark query engine spark query"),
            (2, "spark engine"),
            (3, "unrelated text entirely"),
        ],
        "doc_id long, text string",
    )
    out = [tuple(r) for r in bm25_topk(df, ["spark", "query"], k=3).collect()]
    ids = [t[0] for t in out]
    assert ids[0] == 1  # highest tf for both terms
    assert 3 not in ids or out[-1][1] == 0.0
    assert all(s >= 0 for _, s in out)


def test_bloom_no_false_negatives_and_merge(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        bloom_build,
        bloom_probe,
    )

    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], "k string")
    bloom = bloom_build(keys, "k", num_bits=512, num_hashes=3)
    probes = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)] + [(f"absent{i}",) for i in range(50)],
        "k string",
    )
    out = {
        r.k: r.maybe_present
        for r in bloom_probe(
            bloom, probes, "k", num_bits=512, num_hashes=3
        ).collect()
    }
    # no false negatives, ever
    assert all(out[f"k{i}"] for i in range(50))
    # merging shard filters == filter of the union (bit-OR commutes)
    half_a = bloom_build(keys.limit(25), "k", num_bits=512, num_hashes=3)
    half_b = bloom_build(
        keys.subtract(keys.limit(25)), "k", num_bits=512, num_hashes=3
    )
    merged = half_a.unionAll(half_b).distinct()
    assert sorted(r.bit for r in merged.collect()) == sorted(
        r.bit for r in bloom.collect()
    )


def test_winsorized_stats_clamps_and_bounds(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        winsorized_stats,
    )

    # group g: values 0..8 → p=1/8 bound = 1.0, p=7/8 bound = 7.0
    df = spark.createDataFrame(
        [("g", float(i)) for i in range(9)], "grp string, v double"
    )
    r = winsorized_stats(df, "v", "grp", p_lo=0.125, p_hi=0.875).collect()[0]
    assert (r.lo_bound, r.hi_bound) == (1.0, 7.0)
    assert (r.n_clamped_lo, r.n_clamped_hi) == (1, 1)
    # winsorized sum: 1 + 1+2+...+7 + 7 = 36.0
    assert r.sum_winsorized == 36.0


def test_robust_outliers_median_mad_flags(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        robust_outliers,
    )

    # values 1..9 plus a wild outlier: med=5.5 (even n=10), MAD from devs
    vals = [float(i) for i in range(1, 10)] + [1000.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, v double"
    )
    r = robust_outliers(df, "v", "grp", k=3.0).collect()[0]
    assert r.med == 5.5
    # devs: 4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5 → sorted mid pair (2.5,2.5)
    assert r.mad == 2.5
    assert r.n_outliers == 1  # only the 1000.0 exceeds 3*2.5 beyond med
    assert r.n_rows == 10


def test_sliding_window_fanout(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        tumbling_window_agg,
    )

    df = spark.createDataFrame(
        [("a", "2024-01-01T10:07:00")], "k string, ts_s string"
    ).select("k", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    out = tumbling_window_agg(
        df, "ts", "1 hour", keys=["k"],
        aggs=[F.count("*").alias("n")], slide="15 minutes",
    )
    starts = sorted(str(r.window_start) for r in out.collect())
    # event at 10:07 belongs to windows starting 09:15, 09:30, 09:45, 10:00
    assert starts == [
        "2024-01-01 09:15:00",
        "2024-01-01 09:30:00",
        "2024-01-01 09:45:00",
        "2024-01-01 10:00:00",
    ]


def test_event_transitions_counts_and_probs(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        event_transitions,
    )

    rows = [
        (1, "2024-01-01T00:00:00", "a", 1),
        (1, "2024-01-01T00:01:00", "b", 2),
        (1, "2024-01-01T00:02:00", "a", 3),
        (1, "2024-01-01T00:03:00", "b", 4),
        (2, "2024-01-01T00:00:00", "a", 5),
        (2, "2024-01-01T00:01:00", "c", 6),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string, event_id long"
    ).select(
        "user_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "event_id",
    )
    out = {
        (r.from_type, r.to_type): (r.n_trans, r.p_trans)
        for r in event_transitions(
            df, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    # from 'a': a→b twice, a→c once; from 'b': b→a once
    assert out[("a", "b")] == (2, 2 / 3)
    assert out[("a", "c")] == (1, 1 / 3)
    assert out[("b", "a")] == (1, 1.0)
    # no cross-user transition (user 2 starts fresh)
    assert ("b", "c") not in out


def test_token_diversity_handcrafted(spark):
    from hiv_data_integration_spark.operators.textops import token_diversity

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string"
    )
    out = {r.id: r for r in token_diversity(df).collect()}
    assert out[1].dl == 4 and out[1].n_types == 1
    assert out[1].type_token_ratio == 0.25
    assert out[1].gini_simpson == 0.0  # all mass on one type
    assert out[2].gini_simpson == 1.0 - 4 / 16  # uniform over 4 types
    assert out[2].type_token_ratio == 1.0


def test_weighted_median_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import weighted_median

    # group a: values 1,2,3 with weights 1,1,10 → total 12, half 6 →
    # median is 3 (cum: 1,2,12). group b: 5 w4, 7 w4 → total 8, 2*cum at
    # 5 is 8 >= 8 → LOWER median 5.
    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", 3, 10), ("b", 5, 4), ("b", 7, 4)],
        "g string, v int, w int",
    )
    got = {
        r["g"]: (r["weighted_median"], r["total_weight"])
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    assert got == {"a": (3, 12), "b": (5, 8)}


def test_weighted_median_duplicate_values_merge(spark):
    from hiv_data_integration_spark.operators.aggregate import weighted_median

    # duplicate value rows must merge weights BEFORE the cumulative pass
    # (ROWS window over non-unique keys would be nondeterministic)
    df = spark.createDataFrame(
        [("g", 10, 1), ("g", 10, 1), ("g", 20, 1)], "g string, v int, w int"
    )
    [r] = weighted_median(df, "g", "v", "w").collect()
    assert (r["weighted_median"], r["total_weight"]) == (10, 3)


def test_rfm_features_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import rfm_features

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 5.0),
            (1, "2024-01-03 09:00:00", 7.5),
            (2, "2024-01-05 00:00:00", 1.25),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["user"]: (r["recency_days"], r["frequency"], r["monetary"])
        for r in rfm_features(df).collect()
    }
    # anchor = 2024-01-05
    assert got == {1: (2, 2, 12.5), 2: (0, 1, 1.25)}


def test_linear_attribution_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        linear_attribution,
    )

    rows = [
        # user 1: view + click in window, then purchase → n=2, each 1/2
        (1, 1, "view", "2024-01-01 00:00:00"),
        (2, 1, "click", "2024-01-01 01:00:00"),
        (3, 1, "purchase", "2024-01-01 02:00:00"),
        # user 2: one view inside window, one outside (>72h) → n=1
        (4, 2, "view", "2024-01-01 00:00:00"),
        (5, 2, "view", "2024-01-05 00:00:00"),
        (6, 2, "purchase", "2024-01-05 12:00:00"),
        # user 3: purchase with no touches → contributes nothing
        (7, 3, "purchase", "2024-01-02 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = linear_attribution(df, "purchase", ["view", "click"], "72 hours")
    got = {
        (r["touch_type"], r["n_touches"]): (
            r["credit_num"], r["n_conversions"], r["credit"]
        )
        for r in out.collect()
    }
    assert got == {
        ("view", 2): (1, 1, 0.5),
        ("click", 2): (1, 1, 0.5),
        ("view", 1): (1, 1, 1.0),
    }


def test_benford_profile_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import benford_profile

    # 1.00, 19.99, 0.02 (leading digit 2 at cent scale), -5 and NULL dropped
    df = spark.createDataFrame(
        [(1.0,), (19.99,), (0.02,), (-5.0,), (None,)], "v double"
    )
    got = {
        r["leading_digit"]: (r["n_values"], r["share"])
        for r in benford_profile(df, "v").collect()
    }
    assert got == {1: (2, 2 / 3), 2: (1, 1 / 3)}


def test_ngram_containment_handcrafted(spark):
    from hiv_data_integration_spark.operators.textops import ngram_containment

    train = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "quick brown fox jumps"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    out = ngram_containment(train, ev, n=3).collect()
    # eval 1 has 2 distinct 3-grams, both inside the train doc; eval 2
    # shares nothing and must not appear
    assert len(out) == 1
    r = out[0]
    assert (r["train_id"], r["eval_id"]) == (100, 1)
    assert (r["shared_grams"], r["eval_grams"], r["containment"]) == (2, 2, 1.0)


def test_key_skew_profile_handcrafted(spark):
    from hiv_data_integration_spark.operators.relational import (
        key_skew_profile,
    )

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2 + [(None,)] * 2, "k string"
    )
    out = {r["rank"]: r for r in key_skew_profile(df, "k", k=2).collect()}
    assert out[1]["key"] == "a" and out[1]["cnt"] == 6
    assert out[1]["total_rows"] == 10 and out[1]["n_keys"] == 3
    assert out[1]["share"] == 0.6 and out[1]["skew_ratio"] == 1.8
    # NULL keys are profiled (rank 2 tie between b and NULL broken by
    # key asc nulls last → b)
    assert out[2]["key"] == "b" and out[2]["cnt"] == 2


def test_weighted_median_bucketed_matches_direct(spark):
    from hiv_data_integration_spark.operators.aggregate import weighted_median

    import random

    rng = random.Random(42)
    rows = [
        (f"g{i % 4}", rng.randint(0, 5000), rng.randint(1, 9))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, v int, w int")
    direct = {
        r["g"]: (r["weighted_median"], r["total_weight"])
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    for div in (1, 7, 100, 10_000):
        bucketed = {
            r["g"]: (r["weighted_median"], r["total_weight"])
            for r in weighted_median(
                df, "g", "v", "w", bucket_div=div
            ).collect()
        }
        assert bucketed == direct, div


def test_weighted_median_bucket_div_validation(spark):
    from hiv_data_integration_spark.operators.aggregate import weighted_median

    df = spark.createDataFrame([("g", 1, 1)], "g string, v int, w int")
    with pytest.raises(ValueError):
        weighted_median(df, "g", "v", "w", bucket_div=0)


def test_rrf_fuse_handcrafted(spark):
    from hiv_data_integration_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, neighbor_id long, rank long"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, neighbor_id long, rank long"
    )
    out = {
        r["neighbor_id"]: (r["rank"], r["score"])
        for r in rrf_fuse([a, b], k0=60, k=3).collect()
    }
    # 11 appears in both (1/62 + 1/61) and outranks 10 (1/61) and 12 (1/62)
    assert out[11][0] == 1 and out[11][1] == 1 / 62 + 1 / 61
    assert out[10] == (2, 1 / 61)
    assert out[12] == (3, 1 / 62)


def test_rrf_fuse_validation(spark):
    from hiv_data_integration_spark.operators.similarity import rrf_fuse

    with pytest.raises(ValueError):
        rrf_fuse([])


def test_rank_quantile_norm_handcrafted(spark):
    from hiv_data_integration_spark.operators.sampling import (
        rank_quantile_norm,
    )

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 30), (3, "a", 20), (4, "b", 99)],
        "id long, src string, m long",
    )
    got = {
        r["id"]: (r["rank"], r["n"], r["quantile"])
        for r in rank_quantile_norm(df, "src", "m", "id").collect()
    }
    assert got[1] == (1, 3, 0.0)
    assert got[3] == (2, 3, 0.5)
    assert got[2] == (3, 3, 1.0)
    # single-row stratum pins to 0.5
    assert got[4] == (1, 1, 0.5)


def test_curriculum_interleave_handcrafted(spark):
    from hiv_data_integration_spark.operators.sampling import (
        curriculum_interleave,
    )

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 1), (3, "b", 9), (4, "b", 2)],
        "id long, src string, difficulty long",
    )
    out = {
        r["position"]: (r["id"], r["source"], r["src_rank"])
        for r in curriculum_interleave(df, "src", ["difficulty"], "id").collect()
    }
    # round-robin: both rank-1 rows first (a before b), then rank-2 rows
    assert out[1] == (2, "a", 1)
    assert out[2] == (4, "b", 1)
    assert out[3] == (1, "a", 2)
    assert out[4] == (3, "b", 2)


def test_rank_correlation_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import rank_correlation

    df = spark.createDataFrame(
        # group p: perfectly monotone (rho=1); group n: perfectly
        # reversed (rho=-1); group s: single row (dropped)
        [("p", 1, 10, 1), ("p", 2, 20, 2), ("p", 3, 30, 3),
         ("n", 1, 30, 4), ("n", 2, 20, 5), ("n", 3, 10, 6),
         ("s", 1, 1, 7)],
        "g string, x long, y long, id long",
    )
    got = {
        r["g"]: (r["n"], r["sum_d2"], r["rho"])
        for r in rank_correlation(df, "g", "x", "y", "id").collect()
    }
    assert got["p"] == (3, 0, 1.0)
    assert got["n"] == (3, 8, -1.0)
    assert "s" not in got


def test_expectations_check_handcrafted(spark):
    from hiv_data_integration_spark.operators import validation as V

    df = spark.createDataFrame(
        [(1, 5.0, "A"), (2, 50.0, "A"), (2, 2.0, None), (None, 1.0, "B")],
        "k long, v double, f string",
    )
    out = {
        r["expectation"]: (r["satisfied"], r["applicable"], r["passed"])
        for r in V.expectations_check(
            df,
            [
                V.not_null("k"),
                V.not_null("k", (3, 4)),
                V.unique("k"),
                V.in_range("v", 0.0, 10.0),
                V.in_set("f", ["A"]),
                V.matches("f", "^[AB]$"),
            ],
        ).collect()
    }
    assert out["not_null(k)"] == (3, 4, False)
    # same metric, 75% threshold → passes by exact cross-multiplication
    assert out["not_null(k, >=3/4)"] == (3, 4, True)
    # NULL keys excluded from uniqueness; k=2 duplicates
    assert out["unique(k)"] == (2, 3, False)
    assert out["in_range(v, 0.0, 10.0)"] == (3, 4, False)
    assert out["in_set(f)"] == (2, 3, False)
    assert out["matches(f)"] == (3, 3, True)


def test_expectations_check_empty_suite(spark):
    from hiv_data_integration_spark.operators import validation as V

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        V.expectations_check(df, [])


def test_fk_orphan_profile_handcrafted(spark):
    from hiv_data_integration_spark.operators.validation import (
        fk_orphan_profile,
    )

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    [r] = fk_orphan_profile(child, parent, "fk", "pk").collect()
    assert r["child_rows"] == 6
    assert r["null_fk_rows"] == 1  # NULL is unassigned, not an orphan
    assert r["orphan_rows"] == 2 and r["orphan_keys"] == 1
    assert r["orphan_frac"] == 2 / 6


def test_sequence_pattern_match_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        sequence_pattern_match,
    )

    df = spark.createDataFrame(
        [
            (1, "view", "2024-01-01 00:00:00", 1),
            (1, "error", "2024-01-01 01:00:00", 2),
            (1, "click", "2024-01-01 02:00:00", 3),
            (1, "purchase", "2024-01-01 03:00:00", 4),
            # user 2: right events, wrong order
            (2, "purchase", "2024-01-01 00:00:00", 5),
            (2, "click", "2024-01-01 01:00:00", 6),
            (2, "view", "2024-01-01 02:00:00", 7),
        ],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["user"]: r["matched"]
        for r in sequence_pattern_match(
            df, "user_id", "event_type", ["ts", "event_id"],
            "view.*click.*purchase",
        ).collect()
    }
    assert got == {1: True, 2: False}


def test_hll_merged_distinct_envelope(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        hll_merged_distinct,
    )

    rows = [("g", i % 500, i % 8) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, v long, shard int")
    [r] = hll_merged_distinct(df, "v", "g", "shard", lgk=12).collect()
    assert r["n_shards"] == 8
    # lgk=12 → rsd ~1.6%; assert a generous 5% envelope around the
    # exact 500 — sketch drift outside its documented error is a bug
    assert abs(r["approx_distinct"] - 500) <= 25


def test_grouped_ols_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import grouped_ols

    df = spark.createDataFrame(
        # group a: y = 2x + 1 exactly; group z: zero x-variance (dropped);
        # group s: single row (dropped)
        [("a", 1, 3), ("a", 2, 5), ("a", 3, 7),
         ("z", 4, 1), ("z", 4, 9), ("s", 1, 1)],
        "g string, x long, y long",
    )
    got = {
        r["g"]: (r["n"], r["slope"], r["intercept"])
        for r in grouped_ols(df, "g", "x", "y").collect()
    }
    assert got == {"a": (3, 2.0, 1.0)}


def test_contingency_profile_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        contingency_profile,
    )

    # perfectly independent 2x2: every cell's contribution is 0
    rows = [("x", "p")] * 2 + [("x", "q")] * 2 + [("y", "p")] * 3 + [
        ("y", "q")
    ] * 3
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(r["row_val"], r["col_val"]): r for r in
           contingency_profile(df, "r", "c").collect()}
    assert out[("x", "p")]["observed"] == 2
    assert out[("x", "p")]["expected"] == 2.0
    assert all(v["contribution"] == 0.0 for v in out.values())


def test_conversion_latency_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        conversion_latency_deciles,
    )

    df = spark.createDataFrame(
        [
            (1, "view", "2024-01-01 00:00:00"),
            (1, "purchase", "2024-01-01 00:01:40"),  # 100 s
            (2, "view", "2024-01-01 00:00:00"),
            (2, "purchase", "2024-01-01 00:05:00"),  # 300 s
            (3, "purchase", "2024-01-01 00:00:00"),  # purchase BEFORE view
            (3, "view", "2024-01-01 01:00:00"),      # → not converted
            (4, "view", "2024-01-01 00:00:00"),      # never purchases
        ],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = conversion_latency_deciles(df, "view", "purchase", n_buckets=2)
    got = {r["decile"]: (r["n_users"], r["min_s"], r["max_s"])
           for r in out.collect()}
    assert got == {1: (1, 100, 100), 2: (1, 300, 300)}


def test_cooccurrence_lift_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        cooccurrence_lift,
    )

    df = spark.createDataFrame(
        # 4 baskets: {a,b}, {a,b}, {a}, {c} — lift(a,b) = 4*2/(3*2)
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "c"),
         (1, "a")],  # duplicate item in basket 1 must not double-count
        "b long, i string",
    )
    [r] = cooccurrence_lift(df, "b", "i").collect()
    assert (r["item_a"], r["item_b"]) == ("a", "b")
    assert (r["n_both"], r["n_a"], r["n_b"], r["n_baskets"]) == (2, 3, 2, 4)
    assert r["lift"] == (4 * 2) / (3 * 2)


def test_merge_agg_state_matches_full_recompute(spark):
    from hiv_data_integration_spark.operators.relational import (
        merge_agg_state,
    )

    import random

    rng = random.Random(7)
    rows = [(f"k{i % 5}", rng.randint(-100, 100)) for i in range(300)]
    df = spark.createDataFrame(rows, "k string, v long")
    base = df.limit(180)
    # delta = the complement (deterministic split by row content is
    # awkward; rebuild both halves explicitly instead)
    base_rows = rows[:180]
    delta_rows = rows[180:]
    base_agg = (
        spark.createDataFrame(base_rows, "k string, v long")
        .groupBy("k")
        .agg(F.sum("v").alias("v"), F.count("*").alias("n_rows"))
    )
    delta = spark.createDataFrame(delta_rows, "k string, v long")
    merged = {
        r["k"]: (r["v"], r["n_rows"])
        for r in merge_agg_state(base_agg, delta, ["k"], ["v"]).collect()
    }
    full = {
        r["k"]: (r["v"], r["n_rows"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("v"), F.count("*").alias("n_rows"))
        .collect()
    }
    assert merged == full


def test_merge_agg_state_new_and_untouched_keys(spark):
    from hiv_data_integration_spark.operators.relational import (
        merge_agg_state,
    )

    old = spark.createDataFrame(
        [("a", 10, 2), ("b", 5, 1)], "k string, v long, n_rows long"
    )
    delta = spark.createDataFrame(
        [("b", 7), ("c", 3)], "k string, v long"
    )
    got = {
        r["k"]: (r["v"], r["n_rows"])
        for r in merge_agg_state(old, delta, ["k"], ["v"]).collect()
    }
    # untouched key survives, touched key merges, new key appears
    assert got == {"a": (10, 2), "b": (12, 2), "c": (3, 1)}


def test_merge_agg_state_validation(spark):
    from hiv_data_integration_spark.operators.relational import (
        merge_agg_state,
    )

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError):
        merge_agg_state(df, df, [], ["v"])


def test_sentence_rows_udtf_handcrafted(spark):
    from hiv_data_integration_spark.operators.textops import (
        sentence_rows_udtf,
    )

    df = spark.createDataFrame(
        [(1, "Hello there. . Nice day.  Bye"), (2, None)],
        "doc_id long, text string",
    )
    got = sorted(
        (r["id"], r["idx"], r["sentence"])
        for r in sentence_rows_udtf(df).collect()
    )
    # empty segment skipped without consuming an index; None yields nothing
    assert got == [(1, 0, "Hello there"), (1, 1, "Nice day"), (1, 2, "Bye")]


def test_pit_join_handcrafted(spark):
    from hiv_data_integration_spark.operators.history import pit_join

    hist = spark.createDataFrame(
        [
            ("a", 10.0, 1, 3, False),   # version 1: batches 1-2
            ("a", 20.0, 3, None, True), # version 2: batch 3 onward
            ("b", 5.0, 2, None, True),
        ],
        "k string, bal double, valid_from long, valid_to long, is_current boolean",
    )
    facts = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 1), ("c", 2)], "k string, stamp long"
    )
    got = {
        (r["k"], r["stamp"]): (r["bal"], r["valid_from"])
        for r in pit_join(facts, hist, ["k"], "stamp").collect()
    }
    assert got[("a", 1)] == (10.0, 1)   # old version at stamp 1
    assert got[("a", 3)] == (20.0, 3)   # new version exactly at boundary
    assert got[("b", 1)] == (None, None)  # before the key existed
    assert got[("c", 2)] == (None, None)  # unknown key survives (left)


def test_proportion_ci_handcrafted(spark):
    import math

    from hiv_data_integration_spark.operators.aggregate import proportion_ci

    df = spark.createDataFrame(
        [("g", True)] * 8 + [("g", False)] * 2, "g string, f boolean"
    )
    [r] = proportion_ci(df, "g", "f").collect()
    assert (r["n"], r["successes"], r["p"]) == (10, 8, 0.8)
    # Wilson bounds for 8/10 at z=1.96 (reference values)
    z = 1.96
    p, n = 0.8, 10.0
    denom = 1.0 + z * z / n
    center = p + z * z / (2.0 * n)
    margin = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
    assert r["ci_lo"] == (center - margin) / denom
    assert r["ci_hi"] == (center + margin) / denom
    assert 0.0 < r["ci_lo"] < 0.8 < r["ci_hi"] < 1.0


def test_bpe_pair_counts_handcrafted(spark):
    from hiv_data_integration_spark.operators.textops import bpe_pair_counts

    df = spark.createDataFrame(
        [("ababa",), ("AB",), ("x",), (None,)], "text string"
    )
    got = {
        r["pair"]: (r["rank"], r["n_occurrences"])
        for r in bpe_pair_counts(df, k=10).collect()
    }
    # "ababa" → ab, ba, ab, ba; "AB" lowercases to one more ab;
    # "x" (length 1) contributes nothing
    assert got["ab"] == (1, 3)
    assert got["ba"] == (2, 2)
    assert len(got) == 2


def test_file_metadata_hidden_column(spark, tmp_path):
    # Spark's _metadata hidden column: per-source-file lineage audit —
    # the ingest-provenance surface (file name, size, mod time) without
    # any custom reader
    p = str(tmp_path / "files")
    spark.range(0, 100).withColumn(
        "part", (F.col("id") % 4).cast("int")
    ).repartition(4, "part").write.parquet(p)
    audited = (
        spark.read.parquet(p)
        .select("id", F.col("_metadata.file_name").alias("fname"))
        .groupBy("fname")
        .agg(F.count("*").alias("n"))
    )
    rows = audited.collect()
    assert sum(r["n"] for r in rows) == 100
    assert all(r["fname"].endswith(".parquet") for r in rows)
    assert len(rows) >= 2  # multiple files, each audited separately


def test_observation_metrics_api(spark):
    # batch Observation API: accumulator-style metrics piggyback on an
    # action with NO extra pass over the data — the pipeline-monitoring
    # hook (row counts, null counts, sums observed mid-plan)
    from pyspark.sql import Observation

    obs = Observation("ingest_stats")
    df = spark.range(0, 1000).withColumn(
        "v", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
    )
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").isNull().cast("long")).alias("n_nulls"),
    )
    assert observed.filter(F.col("id") >= 0).count() == 1000
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["n_nulls"] == 100


def test_largest_remainder_allocation_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        largest_remainder_allocation,
    )

    # T=100 split over weights 1,1,1 → 33/33/34 with the extra cent on
    # the smallest id? all remainders equal (100*1 % 3 == 1) → tie broken
    # by id asc: rows 1,2,3 all rem=1, deficit=1 → row 1 gets it
    df = spark.createDataFrame(
        [("o1", 1, 1, 100), ("o1", 2, 1, 100), ("o1", 3, 1, 100),
         ("o2", 1, 2, 7), ("o2", 2, 3, 7)],
        "g string, i long, w long, t long",
    )
    got = {
        (r["g"], r["i"]): r["allocated"]
        for r in largest_remainder_allocation(
            df, "g", "w", "t", ["i"]
        ).collect()
    }
    assert got[("o1", 1)] == 34 and got[("o1", 2)] == 33
    assert got[("o1", 3)] == 33
    # o2: T=7, W=5 → floors 2,4 rems 4,1 → deficit 1 → row 1 gets it
    assert got[("o2", 1)] == 3 and got[("o2", 2)] == 4
    # invariant: allocations sum exactly to each group's total
    assert got[("o1", 1)] + got[("o1", 2)] + got[("o1", 3)] == 100
    assert got[("o2", 1)] + got[("o2", 2)] == 7


def test_k_anonymity_audit_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        k_anonymity_audit,
    )

    rows = [("a", 1)] * 5 + [("a", 2)] * 2 + [(None, 1)] * 1
    df = spark.createDataFrame(rows, "q1 string, q2 long")
    [r] = k_anonymity_audit(df, ["q1", "q2"], k=3).collect()
    assert (r["n_rows"], r["n_classes"]) == (8, 3)
    # class (a,2) has 2 < 3; NULL class has 1 < 3 (NULLs form a class)
    assert (r["n_violating_classes"], r["n_suppressed_rows"]) == (2, 3)
    assert r["suppressed_frac"] == 3 / 8


def test_interval_union_time_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        interval_union_time,
    )

    rows = [
        # user 1: [0,100) and [50,150) overlap → one island of 150 s;
        # [200,250) separate
        (1, "2024-01-01 00:00:00", "2024-01-01 00:01:40"),
        (1, "2024-01-01 00:00:50", "2024-01-01 00:02:30"),
        (1, "2024-01-01 00:03:20", "2024-01-01 00:04:10"),
        # user 2: touching intervals [0,60) and [60,120) merge (s > e is
        # strict: start == prev end does NOT open a new island)
        (2, "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
        (2, "2024-01-01 00:01:00", "2024-01-01 00:02:00"),
    ]
    df = (
        spark.createDataFrame(rows, "u long, s string, e string")
        .withColumn("s", F.to_timestamp("s"))
        .withColumn("e", F.to_timestamp("e"))
    )
    got = {
        r["user"]: (r["n_intervals"], r["n_islands"], r["covered_s"])
        for r in interval_union_time(df, "u", "s", "e").collect()
    }
    assert got[1] == (3, 2, 200)
    assert got[2] == (2, 1, 120)


def test_trailing_distinct_users_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        trailing_distinct_users,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 11:00:00"),  # same user same day: once
        (2, "2024-01-03 10:00:00"),
        (1, "2024-01-09 10:00:00"),  # day 1 fell out of the 7-day window
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        str(r["day"]): r["n_active_users"]
        for r in trailing_distinct_users(df, window_days=7).collect()
    }
    assert got == {"2024-01-01": 1, "2024-01-03": 2, "2024-01-09": 2}


def test_group_median_impute_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        group_median_impute,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None), ("b", None)],
        "g string, v double",
    )
    got = {
        (r["g"], r["v"]): (r["value_imputed"], r["was_imputed"])
        for r in group_median_impute(df, "g", "v").collect()
    }
    # lower median of {1, 3} is 1; all-NULL group b stays NULL
    assert got[("a", None)] == (1.0, True)
    assert got[("a", 1.0)] == (1.0, False)
    assert got[("b", None)] == (None, False)


def test_stable_row_ids_matches_global_rank(spark):
    from hiv_data_integration_spark.operators.relational import (
        stable_row_ids,
    )

    import random

    rng = random.Random(3)
    keys = rng.sample(range(100000), 500)
    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(7)
    got = {
        r["k"]: r["row_id"]
        for r in stable_row_ids(df, ["k"], partitions=5).collect()
    }
    expect = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == expect


def test_stable_row_ids_validation(spark):
    from hiv_data_integration_spark.operators.relational import (
        stable_row_ids,
    )

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        stable_row_ids(df, [])


def test_trailing_ema_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import trailing_ema

    rows = [("u", i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5])]
    df = spark.createDataFrame(rows, "k string, i long, v double")
    out = {r["i"]: r["ema"] for r in
           trailing_ema(df, "k", ["i"], "v", k=2).collect()}
    # k=2, alpha=1/2 → weights 2/3 current + 1/3 previous; first row NULL
    assert out[0] is None
    for i in range(1, 5):
        expect = (i + 1) * (2 / 3 / 1.0) + i * (1 / 3)
        assert abs(out[i] - expect) < 1e-12


def test_churn_labels_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import churn_labels

    rows = [
        (1, "2024-01-05 10:00:00"),  # active before, silent after → churn
        (2, "2024-01-06 10:00:00"),
        (2, "2024-01-12 10:00:00"),  # active in window → retained
        (3, "2024-01-25 10:00:00"),  # first seen after cutoff → excluded
        (2, "2024-02-20 10:00:00"),  # after the window: irrelevant
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        r["user"]: (r["n_events_before"], r["recency_days_at_cutoff"],
                    r["churned"])
        for r in churn_labels(df, "2024-01-10", horizon_days=7).collect()
    }
    assert got == {1: (1, 5, True), 2: (1, 4, False)}


def test_loo_target_encoding_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        loo_target_encoding,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0), (4, "b", 7.0)],
        "i long, c string, y double",
    )
    got = {
        r["i"]: r["target_loo"]
        for r in loo_target_encoding(df, "c", "y").collect()
    }
    # each row sees the mean of the OTHERS; singleton category → NULL
    assert got[1] == 25.0 and got[2] == 20.0 and got[3] == 15.0
    assert got[4] is None


def test_cdc_chunk_stats_duplicate_sharing(spark):
    from hiv_data_integration_spark.operators.dedup import cdc_chunk_stats

    text = "the quick brown fox jumps over the lazy dog " * 20
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different content here")],
        "doc_id long, text string",
    )
    [r] = cdc_chunk_stats(df, window=8, divisor=16).collect()
    # two identical docs must share every chunk: distinct < total and
    # the ratio reflects real reclaimable bytes
    assert r["n_distinct_chunks"] < r["n_chunks"]
    assert r["bytes_stored"] < r["bytes_total"]
    assert 0.0 < r["dedup_ratio"] < 1.0
    # identical docs halve at least their own contribution
    assert r["dedup_ratio"] >= 0.3


def test_cdc_chunk_stats_short_doc(spark):
    from hiv_data_integration_spark.operators.dedup import cdc_chunk_stats

    # shorter than the window: one whole-doc chunk, no crash
    df = spark.createDataFrame([(1, "tiny")], "doc_id long, text string")
    [r] = cdc_chunk_stats(df, window=8, divisor=16).collect()
    assert (r["n_chunks"], r["bytes_total"]) == (1, 4)


def test_ab_test_ztest_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import ab_test_ztest

    rows = [(u, "purchase" if u % 3 == 0 else "view") for u in range(1, 41)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    success = F.max(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    [r] = ab_test_ztest(df, success).collect()
    assert r["n_a"] + r["n_b"] == 40
    assert r["conv_a"] + r["conv_b"] == 13  # users divisible by 3
    assert r["z"] is not None


def test_ab_test_ztest_degenerate_pool_null(spark):
    from hiv_data_integration_spark.operators.aggregate import ab_test_ztest

    df = spark.createDataFrame(
        [(u, "purchase") for u in range(1, 21)],
        "user_id long, event_type string",
    )
    success = F.max(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    [r] = ab_test_ztest(df, success).collect()
    # every user converted → zero variance → z undefined, not an error
    assert r["z"] is None


def test_class_balance_weights_handcrafted(spark):
    from hiv_data_integration_spark.operators.sampling import (
        class_balance_weights,
    )

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2, "c string"
    )
    got = {
        r["class"]: (r["n_class"], r["weight_num"], r["weight_den"],
                     r["weight"])
        for r in class_balance_weights(df, "c").collect()
    }
    assert got["a"] == (6, 8, 12, 8 / 12)
    assert got["b"] == (2, 8, 4, 2.0)


def test_interval_overlap_join_handcrafted(spark):
    from hiv_data_integration_spark.operators.relational import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [("u", 0, 100), ("u", 200, 300), ("v", 0, 50)],
        "k string, s long, e long",
    )
    right = spark.createDataFrame(
        [("u", 50, 150),   # overlaps [0,100)
         ("u", 100, 120),  # touches [0,100) at 100 → NOT an overlap
         ("u", 250, 260),  # inside [200,300)
         ("w", 0, 10)],    # different key → never pairs
        "k string, s long, e long",
    )
    got = sorted(
        (r["s"], r["e"], r["s_r"], r["e_r"])
        for r in interval_overlap_join(
            left, right, ["k"], "s", "e", "s", "e"
        ).collect()
    )
    assert got == [(0, 100, 50, 150), (200, 300, 250, 260)]


def test_sequence_bigram_support_counts_users_once(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        sequence_bigram_support,
    )

    rows = [
        # user 1 does a→b twice: support must count the user ONCE
        (1, "a", 1), (1, "b", 2), (1, "a", 3), (1, "b", 4),
        (2, "a", 1), (2, "b", 2),
        (3, "b", 1), (3, "a", 2),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    got = {
        (r["from_type"], r["to_type"]): (r["n_users"], r["support"])
        for r in sequence_bigram_support(
            df, order_cols=["ts"], k=10
        ).collect()
    }
    assert got[("a", "b")] == (2, 2 / 3)
    assert got[("b", "a")][0] == 2  # users 1 (b@2→a@3) and 3


def test_calibration_bins_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        calibration_bins,
    )

    rows = [(5.0, True), (5.0, False), (95.0, True), (100.0, True)]
    df = spark.createDataFrame(rows, "score double, y boolean")
    got = {
        r["bin"]: (r["n"], r["n_pos"], r["pos_rate"], r["mean_score"])
        for r in calibration_bins(df, "score", "y", n_bins=10).collect()
    }
    assert got[0] == (2, 1, 0.5, 5.0)
    # 100.0 folds into the last bin rather than spilling to bin 10
    assert got[9] == (2, 2, 1.0, 97.5)


def test_sorted_neighborhood_pairs_handcrafted(spark):
    from hiv_data_integration_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "smith"), (2, "smyth"), (3, "adams"), (4, "addams"), (5, "zorn"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    # sort order: adams(3) addams(4) smith(1) smyth(2) zorn(5)
    got = {
        (r["id_a"], r["id_b"]): r["rank_gap"]
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=2
        ).collect()
    }
    # window=2 → only immediate neighbors, typo pairs meet
    assert got == {(3, 4): 1, (4, 1): 1, (1, 2): 1, (2, 5): 1}

    wide = sorted_neighborhood_pairs(df, "id", "name", window=3).collect()
    assert len(wide) == 4 + 3  # gap-1 pairs + gap-2 pairs
    assert {r["rank_gap"] for r in wide} == {1, 2}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "id", "name", window=1)


def test_ohlc_downsample_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        ohlc_downsample,
    )

    rows = [
        (1, "2024-03-01 09:00:00.000001", "a", 10.0),
        (2, "2024-03-01 12:00:00", "a", 50.0),
        (3, "2024-03-01 23:59:59.999999", "a", 20.0),
        (4, "2024-03-02 01:00:00", "a", 7.0),
        # same-instant tie on day 2: smaller id wins open
        (5, "2024-03-02 01:00:00", "a", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts string, k string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        r["bucket_ts"].day: (
            r["open"], r["high"], r["low"], r["close"], r["n"], r["volume"]
        )
        for r in ohlc_downsample(
            df, ["k"], "ts", "v", "id", bucket="day"
        ).collect()
    }
    assert got[1] == (10.0, 50.0, 10.0, 20.0, 3, 80.0)
    assert got[2] == (7.0, 9.0, 7.0, 9.0, 2, 16.0)


def test_grouped_mode_tiebreak(spark):
    from hiv_data_integration_spark.operators.aggregate import grouped_mode

    rows = [(1, "b"), (1, "b"), (1, "a"), (2, "z"), (2, "y")]
    df = spark.createDataFrame(rows, "g long, v string")
    got = {
        r["g"]: (r["mode_value"], r["n_mode"])
        for r in grouped_mode(df, ["g"], "v").collect()
    }
    assert got[1] == ("b", 2)
    assert got[2] == ("y", 1)  # count tie → smallest value wins


def test_time_weighted_average_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        time_weighted_average,
    )

    rows = [
        # day 1: 10.0 held 60s, 20.0 held 30s -> twap 13.333...
        (1, "2024-03-01 00:00:00", "u", 10.0),
        (2, "2024-03-01 00:01:00", "u", 20.0),
        (3, "2024-03-01 00:01:30", "u", 99.0),  # last obs of day 1...
        # ...holds into day 2 but is ASSIGNED to day 1 (start bucket)
        (4, "2024-03-02 00:00:00", "u", 5.0),
        # same-instant pair on day 2: zero-length interval from id 4
        (5, "2024-03-02 00:00:00", "u", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts string, k string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        r["bucket_ts"].day: (
            r["twap"], r["held_micros"], r["n_intervals"]
        )
        for r in time_weighted_average(
            df, ["k"], "ts", "v", "id", bucket="day"
        ).collect()
    }
    # day 1: 10.0 held 60 s + 20.0 held 30 s; 99.0's cross-day interval
    # (86400-90 s) also lands in day 1 (start-bucket contract)
    d1_num = 10.0 * 60 + 20.0 * 30 + 99.0 * 86310
    assert got[1] == (d1_num / (90 + 86310), (90 + 86310) * 10**6, 3)
    # day 2: only the zero-length same-instant interval -> NULL twap
    assert got[2] == (None, 0, 1)


def test_segmented_running_total_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        segmented_running_total,
    )

    rows = [
        (1, 1, 10.0, True),   # seg 1 starts
        (1, 2, 5.0, False),   # seg 1: 15
        (1, 3, 2.0, True),    # seg 2 resets: 2
        (1, 4, 1.0, False),   # seg 2: 3
        (2, 1, 4.0, False),   # seg 0 (no reset yet): 4
        (2, 2, 6.0, True),    # seg 1: 6
    ]
    df = spark.createDataFrame(rows, "g long, o long, v double, r boolean")
    got = {
        (r["g"], r["o"]): (r["segment"], r["running_value"])
        for r in segmented_running_total(
            df, ["g"], ["o"], "v", "r"
        ).collect()
    }
    assert got[(1, 1)] == (1, 10.0)
    assert got[(1, 2)] == (1, 15.0)
    assert got[(1, 3)] == (2, 2.0)
    assert got[(1, 4)] == (2, 3.0)
    assert got[(2, 1)] == (0, 4.0)
    assert got[(2, 2)] == (1, 6.0)


def test_weighted_priority_sample(spark):
    from hiv_data_integration_spark.operators.sampling import (
        weighted_priority_sample,
    )

    rows = [(i, "s" if i % 2 else "t", (i % 7) + 1) for i in range(200)]
    rows += [(900, "s", 0), (901, "s", None)]  # excluded: w <= 0 / NULL
    df = spark.createDataFrame(rows, "id long, g string, w long")

    # stratified: exactly k per stratum, deterministic across reruns
    got1 = weighted_priority_sample(df, "id", "w", 5, stratum_cols=["g"])
    ids1 = sorted(r["id"] for r in got1.collect())
    ids2 = sorted(
        r["id"]
        for r in weighted_priority_sample(
            df, "id", "w", 5, stratum_cols=["g"]
        ).collect()
    )
    assert ids1 == ids2 and len(ids1) == 10
    assert not {900, 901} & set(ids1)
    per_g = {
        r["g"]: r["n"]
        for r in got1.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert per_g == {"s": 5, "t": 5}

    # unstratified: global top-k by priority, same rows as the window path
    glob = weighted_priority_sample(df, "id", "w", 7)
    assert glob.count() == 7
    # priorities match a hand computation for one row
    import hashlib

    row = glob.collect()[0]
    h = int(hashlib.md5(f"prio:{row['id']}".encode()).hexdigest()[:13], 16) + 1
    assert row["priority"] == row["w"] / h


def test_l_diversity_audit(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        l_diversity_audit,
    )

    rows = [
        ("a", 1, "flu"), ("a", 1, "flu"), ("a", 1, "flu"),  # 1 distinct
        ("b", 2, "flu"), ("b", 2, "cold"), ("b", 2, None),  # 3 distinct
        ("c", 3, "hiv"), ("c", 3, "flu"),                   # 2 distinct
    ]
    df = spark.createDataFrame(rows, "zip string, age long, dx string")
    got = l_diversity_audit(df, ["zip", "age"], "dx", l=3).collect()[0]
    assert (
        got["l"], got["n_rows"], got["n_classes"],
        got["n_violating_classes"], got["n_exposed_rows"],
    ) == (3, 8, 3, 2, 5)
    assert got["exposed_frac"] == 5 / 8


def test_link_prediction_scores(spark):
    from hiv_data_integration_spark.operators.dedup import (
        link_prediction_scores,
    )

    # bipartite: items 10,11 shared by (1,2); hub 99 shared by all
    rows = [
        (1, 10), (2, 10), (1, 11), (2, 11), (3, 11),
        (1, 99), (2, 99), (3, 99), (4, 99),
        (1, 10),  # duplicate edge ignored
    ]
    df = spark.createDataFrame(rows, "u long, item long")
    got = {
        (r["left_a"], r["left_b"]): (r["n_common"], r["ra_score"])
        for r in link_prediction_scores(
            df, "u", "item", max_degree=3, ra_scale=1000
        ).collect()
    }
    # hub 99 (deg 4) cut by max_degree=3; deg(10)=2, deg(11)=3
    assert got[(1, 2)] == (2, 1000 // 2 + 1000 // 3)
    assert got[(1, 3)] == (1, 1000 // 3)
    assert got[(2, 3)] == (1, 1000 // 3)
    assert (3, 4) not in got and len(got) == 3


def test_fifo_allocate_handcrafted(spark):
    from hiv_data_integration_spark.operators.relational import fifo_allocate

    supply = spark.createDataFrame(
        [
            ("p", 1, 1, 10.0),  # covers [0, 10)
            ("p", 2, 2, 5.0),   # covers [10, 15)
            ("p", 3, 3, 0.0),   # excluded: empty interval
        ],
        "k string, row_id long, o long, qty double",
    )
    demand = spark.createDataFrame(
        [
            ("p", 101, 1, 4.0),   # [0, 4)  -> s1
            ("p", 102, 2, 8.0),   # [4, 12) -> s1 (6) + s2 (2)
            ("p", 103, 3, 9.0),   # [12,21) -> s2 (3); 6 unmet, no row
            ("q", 104, 1, 1.0),   # no supply on key q -> no rows
        ],
        "k string, row_id long, o long, qty double",
    )
    got = {
        (r["row_id"], r["row_id_d"]): r["qty_matched"]
        for r in fifo_allocate(
            supply, demand, ["k"], "qty", ["o"]
        ).collect()
    }
    assert got == {
        (1, 101): 4.0,
        (1, 102): 6.0,
        (2, 102): 2.0,
        (2, 103): 3.0,
    }


def test_gini_impurity_profile(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        gini_impurity_profile,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None), ("b", 2)],
        "s string, v long",
    )
    got = {
        r["column"]: (
            r["n_rows"], r["n_distinct"], r["max_count"], r["gini"]
        )
        for r in gini_impurity_profile(df, ["s", "v"]).collect()
    }
    # s: counts {a:2, b:2} -> gini = (16-8)/16 = 0.5
    assert got["s"] == (4, 2, 2, 0.5)
    # v: counts {1:1, 2:2, NULL:1} -> gini = (16-6)/16 = 0.625
    assert got["v"] == (4, 3, 2, 0.625)


def test_roc_auc_exact(spark):
    from hiv_data_integration_spark.operators.aggregate import roc_auc_exact

    # scores: pos {3, 2}, neg {1, 2} -> pairs: (3>1)=1, (3>2)=1,
    # (2>1)=1, (2=2)=0.5 -> U = 3.5, AUC = 3.5/4
    df = spark.createDataFrame(
        [(1, 3.0), (1, 2.0), (0, 1.0), (0, 2.0), (None, 9.0), (1, None)],
        "y int, s double",
    )
    got = roc_auc_exact(df, F.col("y") == 1, "s").collect()[0]
    assert (got["n_pos"], got["n_neg"], got["u2"]) == (2, 2, 7)
    assert got["auc"] == 7 / 8

    # degenerate: single class -> NULL auc
    one = spark.createDataFrame([(1, 0.5), (1, 0.7)], "y int, s double")
    assert roc_auc_exact(one, F.col("y") == 1, "s").collect()[0]["auc"] is None


def test_group_zscore_outliers(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        group_zscore_outliers,
    )

    # group a: 9 values at 10.00, one at 20.00 -> mean 11, var 9 ->
    # z(20) = 3 exactly -> NOT flagged at k=3 (strict >), flagged at k=2
    rows = [("a", 10.0)] * 9 + [("a", 20.0)] + [("b", 5.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    res3 = {
        (r["g"], r["v"]): r["is_outlier"]
        for r in group_zscore_outliers(df, ["g"], "v", k=3).collect()
    }
    assert res3[("a", 20.0)] is False and res3[("a", 10.0)] is False
    assert res3[("b", 5.0)] is False  # zero variance flags nothing
    res2 = {
        (r["g"], r["v"]): r["is_outlier"]
        for r in group_zscore_outliers(df, ["g"], "v", k=2).collect()
    }
    assert res2[("a", 20.0)] is True and res2[("a", 10.0)] is False


def test_feature_hash(spark):
    from hiv_data_integration_spark.operators.sampling import feature_hash
    import hashlib

    df = spark.createDataFrame(
        [(1, "red", "eu"), (2, "red", None), (3, "blue", "eu")],
        "id long, color string, region string",
    )
    got = {
        (r["id"], r["feature_idx"]): r["feature_val"]
        for r in feature_hash(
            df, "id", ["color", "region"], num_buckets=1 << 18
        ).collect()
    }

    def bucket(f):
        return (
            int(hashlib.md5(f"fh:{f}".encode()).hexdigest()[:13], 16)
            % (1 << 18)
        )

    assert got[(1, bucket("color=red"))] == 1.0
    assert got[(1, bucket("region=eu"))] == 1.0
    assert got[(3, bucket("color=blue"))] == 1.0
    # NULL category skipped: id 2 has only the color feature
    assert sum(1 for (i, _) in got if i == 2) == 1
    assert len(got) == 5


def test_kaplan_meier_handcrafted(spark):
    from hiv_data_integration_spark.operators.aggregate import kaplan_meier

    # classic toy: events at t=1 (1 of 5), t=3 (1 of 3);
    # censored at t=2 and t=3; survivor to t=4
    rows = [
        (1, True), (2, False), (3, True), (3, False), (4, False),
    ]
    df = spark.createDataFrame(rows, "t long, e boolean")
    got = {
        r["t"]: (r["n_risk"], r["d_events"], r["survival"])
        for r in kaplan_meier(df, "t", "e").collect()
    }
    # t=1: n=5, d=1 -> S = 1 - 1/5 = 0.8
    assert got[1] == (5, 1, 1.0 * (1 - 1 / 5))
    # t=3: n=3 (censored-at-3 still at risk), d=1 -> S = 0.8 * (1 - 1/3)
    assert got[3] == (3, 1, (1.0 * (1 - 1 / 5)) * (1 - 1 / 3))
    assert len(got) == 2


def test_mann_kendall_trend(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        mann_kendall_trend,
    )

    # strictly increasing 10-point series: S = 45, var18 = 10*9*25 = 2250
    up = [("u", t, float(t)) for t in range(10)]
    # flat series: S = 0, all tied -> var18 = 2250 - 2250 = 0
    flat = [("f", t, 7.0) for t in range(10)]
    df = spark.createDataFrame(up + flat, "g string, t long, x double")
    got = {
        r["g"]: (
            r["n_points"], r["s_stat"], r["var18"],
            r["is_significant"], r["trend"],
        )
        for r in mann_kendall_trend(df, ["g"], "t", "x").collect()
    }
    # up: 2500*18*44^2 = 87_120_000 > 9604*2250 = 21_609_000 -> significant
    assert got["u"] == (10, 45, 2250, True, 1)
    assert got["f"] == (10, 0, 0, False, 0)


def test_cusum_change_detection(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        cusum_change_detection,
    )

    # level shift at t=3: [0,0,0,10,10,10] -> S1c = 3000, n = 6
    # D_k = 6*P_k - k*3000 (cents): k=1..6 ->
    # P = [0,0,0,1000,2000,3000] -> D = [-3000,-6000,-9000,-6000,-3000,0]
    rows = [("a", t, 0.0) for t in range(3)] + [
        ("a", t, 10.0) for t in range(3, 6)
    ]
    df = spark.createDataFrame(rows, "g string, t long, x double")
    got = cusum_change_detection(df, ["g"], "t", "x").collect()[0]
    assert (got["n_points"], got["d_max"], got["d_min"]) == (6, 0, -9000)
    assert got["cusum_range"] == 9000 / 600
    assert got["t_change"] == 2  # max |D| at the 3rd point (t=2)


def test_theil_sen_slope(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        theil_sen_slope,
    )

    # y = 2x with one wild outlier at t=2: slopes stay median 2
    rows = [("g", 0, 0), ("g", 1, 2), ("g", 2, 100), ("g", 3, 6),
            ("g", 4, 8), ("s", 5, 1)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    got = {
        r["g"]: (r["n_points"], r["n_pairs"], r["slope"])
        for r in theil_sen_slope(df, ["g"], "t", "x").collect()
    }
    # 10 pairs, sorted slopes: [-47,-46,-92/3,2,2,2,2,2,50,49] ->
    # positions 5 and 6 are both 2.0
    assert got["g"] == (5, 10, 2.0)
    assert got["s"] == (1, 0, None)  # single point -> no pairs


def test_abc_classification(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        abc_classification,
    )

    rows = [("k", "i1", 60), ("k", "i2", 25), ("k", "i3", 10),
            ("k", "i4", 5)]
    df = spark.createDataFrame(rows, "k string, item string, v long")
    got = {
        r["item"]: (r["abc_class"], r["cum_share"])
        for r in abc_classification(df, ["k"], ["item"], "v").collect()
    }
    # cum_prev: i1=0 (<80) A; i2=60 (<80) A; i3=85 (<95) B; i4=95 C
    assert got["i1"] == ("A", 0.6)
    assert got["i2"] == ("A", 0.85)
    assert got["i3"] == ("B", 0.95)
    assert got["i4"] == ("C", 1.0)


def test_rolling_band_outliers(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        rolling_band_outliers,
    )

    # 5 stable points then a spike: trailing band (w=5, min_n=3)
    vals = [10.0, 10.0, 12.0, 10.0, 12.0, 30.0]
    rows = [("g", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    got = {
        r["t"]: (r["n_band"], r["is_breakout"])
        for r in rolling_band_outliers(
            df, ["g"], "t", "v", window=5, min_n=3, k=3
        ).collect()
    }
    assert got[0] == (0, None)       # no trailing peers
    assert got[2] == (2, None)       # below min_n -> no verdict
    assert got[5][0] == 5 and got[5][1] is True   # the spike
    assert got[4][1] is False        # in-band point
    # zero-variance band flags nothing
    flat = spark.createDataFrame(
        [("f", t, 5.0) for t in range(5)], "g string, t long, v double"
    )
    gf = {
        r["t"]: r["is_breakout"]
        for r in rolling_band_outliers(
            flat, ["g"], "t", "v", window=5, min_n=3, k=3
        ).collect()
    }
    assert gf[4] is False


def test_top_session_paths(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        top_session_paths,
    )

    rows = [
        # user 1, session 1: a>b ; session 2 (gap > 30 min): a>b
        (1, "2024-01-01 00:00:00", 1, "a"),
        (1, "2024-01-01 00:05:00", 2, "b"),
        (1, "2024-01-01 02:00:00", 3, "a"),
        (1, "2024-01-01 02:10:00", 4, "b"),
        # user 2, one session: c
        (2, "2024-01-01 00:00:00", 5, "c"),
    ]
    df = spark.createDataFrame(
        rows, "u long, ts string, id long, e string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = [
        (r["path"], r["n_sessions"], r["rank"])
        for r in top_session_paths(
            df, "u", "ts", "id", "e", gap_minutes=30, max_steps=8, k=10
        ).collect()
    ]
    assert got == [("a>b", 2, 1), ("c", 1, 2)]


def test_golden_record(spark):
    from hiv_data_integration_spark.operators.dedup import golden_record

    rows = [
        # cluster 1: email only on the older record, phone on the newer
        (1, 10, 1, "a@x", None),
        (1, 20, 2, None, "555"),
        (1, 30, 3, None, None),
        # cluster 2: all null email
        (2, 10, 4, None, "111"),
        (2, 20, 5, None, None),
    ]
    df = spark.createDataFrame(
        rows, "c long, ts long, id long, email string, phone string"
    )
    got = {
        r["c"]: (r["n_records"], r["email"], r["phone"])
        for r in golden_record(
            df, "c", ["ts", "id"], ["email", "phone"]
        ).collect()
    }
    assert got[1] == (3, "a@x", "555")   # per-field latest NON-NULL
    assert got[2] == (2, None, "111")    # all-null field survives as NULL


def test_cohort_ltv_curve(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        cohort_ltv_curve,
    )

    rows = [
        # two users cohorted in 2024-01; revenue in month 0 and month 2
        (1, "2024-01-05 00:00:00", "purchase", 10.0),
        (1, "2024-03-01 00:00:00", "purchase", 5.0),
        (2, "2024-01-20 00:00:00", "view", 99.0),     # filtered out
        (2, "2024-03-09 00:00:00", "purchase", 5.0),
        # one user cohorted in 2024-02
        (3, "2024-02-01 00:00:00", "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "u long, ts string, t string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["cohort_month"], r["age_months"]): (
            r["n_users"], r["revenue_cents"], r["cum_revenue_cents"],
            r["ltv_per_user"],
        )
        for r in cohort_ltv_curve(
            df, "u", "ts", "v", revenue_filter=F.col("t") == "purchase"
        ).collect()
    }
    jan = 2024 * 12 + 0
    feb = 2024 * 12 + 1
    assert got[(jan, 0)] == (2, 1000, 1000, 5.0)
    assert got[(jan, 2)] == (2, 1000, 2000, 10.0)
    assert got[(feb, 0)] == (1, 700, 700, 7.0)
    assert len(got) == 3


def test_seasonal_naive_backtest(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        seasonal_naive_backtest,
    )

    # season=2: y = [100, 200, 110, 100, 0] at t=0..4
    # scored: t=2 (y=110, yhat=100, ape=10/110), t=3 (y=100, yhat=200,
    # ape=1.0); t=4 excluded (y=0)
    rows = [("g", t, v) for t, v in
            [(0, 100), (1, 200), (2, 110), (3, 100), (4, 0)]]
    df = spark.createDataFrame(rows, "g string, t long, y long")
    got = seasonal_naive_backtest(df, ["g"], "t", "y", season=2).collect()[0]
    assert (got["n_points"], got["n_scored"]) == (5, 2)
    assert got["mdape"] == (10 / 110 + 1.0) / 2  # even m -> midpoint

    # group with no scoreable points
    solo = spark.createDataFrame([("s", 0, 5)], "g string, t long, y long")
    g2 = seasonal_naive_backtest(solo, ["g"], "t", "y", season=2).collect()[0]
    assert (g2["n_scored"], g2["mdape"]) == (0, None)


def test_audience_overlap(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        audience_overlap,
    )

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (1, "a")]
    df = spark.createDataFrame(rows, "u long, s string")
    got = {
        (r["segment_a"], r["segment_b"]): (
            r["n_a"], r["n_b"], r["n_both"], r["jaccard"]
        )
        for r in audience_overlap(df, "u", "s").collect()
    }
    # a={1,2,3}, b={1,2} -> both=2, union=3
    assert got[("a", "b")] == (3, 2, 2, 2 / 3)


def test_position_based_attribution(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        position_based_attribution,
    )

    rows = [
        # user 1: 3 touches then conversion -> first/middle/last
        (1, "click", "2024-01-01 00:00:00", 1),
        (1, "view", "2024-01-01 01:00:00", 2),
        (1, "click", "2024-01-01 02:00:00", 3),
        (1, "purchase", "2024-01-01 03:00:00", 4),
        # user 2: solo touch
        (2, "view", "2024-01-01 00:00:00", 5),
        (2, "purchase", "2024-01-01 01:00:00", 6),
        # user 3: touch outside the 72h window -> excluded
        (3, "click", "2023-12-01 00:00:00", 7),
        (3, "purchase", "2024-01-01 00:00:00", 8),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["touch_type"], r["n_touches"], r["role"]): (
            r["n_touch_events"], r["credit_each"]
        )
        for r in position_based_attribution(
            df, "purchase", ["click", "view"]
        ).collect()
    }
    assert got[("click", 3, "first")] == (1, 0.4)
    assert got[("view", 3, "middle")] == (1, 0.2)
    assert got[("click", 3, "last")] == (1, 0.4)
    assert got[("view", 1, "solo")] == (1, 1.0)
    assert len(got) == 4  # user 3's stale touch attributed nothing


def test_debounce_events(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        debounce_events,
    )

    rows = [
        # burst of 3 chained 40s apart (chain spans 80s > gap), then a
        # separate event 2 minutes later
        (1, "2024-01-01 00:00:00", 1),
        (1, "2024-01-01 00:00:40", 2),
        (1, "2024-01-01 00:01:20", 3),
        (1, "2024-01-01 00:03:30", 4),
        (2, "2024-01-01 00:00:00", 5),
    ]
    df = spark.createDataFrame(
        rows, "u long, ts string, id long"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        r["id"]: (r["burst_seq"], r["n_suppressed"])
        for r in debounce_events(df, ["u"], "ts", "id", gap_seconds=60)
        .collect()
    }
    assert got == {1: (1, 2), 4: (2, 0), 5: (1, 0)}


def test_gap_fill_interpolate(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        gap_fill_interpolate,
    )

    # observations at t=0 (100) and t=4 (300): holes at 1,2,3
    rows = [("g", 0, 100), ("g", 4, 300), ("h", 7, 50)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    got = {
        (r["g"], r["t"]): (r["value_interp"], r["is_observed"])
        for r in gap_fill_interpolate(df, ["g"], "t", "v").collect()
    }
    assert got[("g", 0)] == (100.0, True)
    assert got[("g", 1)] == (150.0, False)
    assert got[("g", 2)] == (200.0, False)
    assert got[("g", 3)] == (250.0, False)
    assert got[("g", 4)] == (300.0, True)
    assert got[("h", 7)] == (50.0, True)  # single-point group
    assert len(got) == 6


def test_dataset_fingerprint(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        dataset_fingerprint,
    )
    import hashlib

    a = spark.createDataFrame([(1, "x"), (2, None)], "id long, s string")
    # same content, different row order and partitioning -> same checksum
    b = spark.createDataFrame(
        [(2, None), (1, "x")], "id long, s string"
    ).repartition(4)
    got = {
        r["table_name"]: (r["n_rows"], r["checksum"])
        for r in dataset_fingerprint({"a": a, "b": b}).collect()
    }
    assert got["a"] == got["b"]

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    expect = (h("1|x") + h("2")) % (1 << 61)  # NULL skipped by concat_ws
    assert got["a"] == (2, expect)


def test_ks_statistic(spark):
    from hiv_data_integration_spark.operators.aggregate import ks_statistic

    # A = {1, 2, 3}, B = {3, 4, 5}: max ECDF gap at v=2 (or 3):
    # cumA*3 - cumB*3 at v=1: |3-0|=3; v=2: |6-0|=6; v=3: |9-3|=6;
    # v=4: |9-6|=3; v=5: 0 -> d_num=6, first at v=2, ks = 6/9
    rows = [(True, 1.0), (True, 2.0), (True, 3.0),
            (False, 3.0), (False, 4.0), (False, 5.0), (None, 9.0)]
    df = spark.createDataFrame(rows, "a boolean, v double")
    got = ks_statistic(df, "a", "v").collect()[0]
    assert (got["n_a"], got["n_b"], got["d_num"]) == (3, 3, 6)
    assert got["ks"] == 6 / 9
    assert got["ks_at_value"] == 2.0  # smallest value at the max gap


def test_distribution_drift_tv(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        distribution_drift_tv,
    )

    # A: {x:2, y:2}; B: {x:1, z:1, NULL:2}
    rows = [(True, "x"), (True, "x"), (True, "y"), (True, "y"),
            (False, "x"), (False, "z"), (False, None), (False, None)]
    df = spark.createDataFrame(rows, "a boolean, v string")
    got = distribution_drift_tv(df, "a", "v").collect()[0]
    # numerators |ca*4 - cb*4|: x:|8-4|=4, y:|8-0|=8, z:|0-4|=4,
    # NULL:|0-8|=8 -> tv_num=24, tv = 24/(2*16) = 0.75
    assert (got["n_a"], got["n_b"], got["n_categories"]) == (4, 4, 4)
    assert (got["tv_num"], got["tv"]) == (24, 0.75)


def test_price_volume_decomposition(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        price_volume_decomposition,
    )

    rows = [
        # seg a: q 10->12, r 1000->1440 (p 100 -> 120)
        ("a", "p1", 10, 1000), ("a", "p2", 12, 1440),
        ("b", "p1", 5, 500),                 # churned
        ("c", "p2", 3, 300),                 # new
        ("a", "p3", 99, 9_999),              # other period ignored
    ]
    df = spark.createDataFrame(rows, "seg string, per string, q long, r long")
    got = {
        r["seg"]: (
            r["q_base"], r["q_comp"], r["delta_cents"],
            r["volume_effect"], r["price_effect"], r["status"],
        )
        for r in price_volume_decomposition(
            df, ["seg"], "per", "q", "r", "p1", "p2"
        ).collect()
    }
    # a: ve = (12-10)*100 = 200; pe = (120-100)*12 = 240; delta 440
    assert got["a"] == (10, 12, 440, 200.0, 240.0, "continuing")
    assert got["b"] == (5, 0, -500, -500.0, 0.0, "churned")
    assert got["c"] == (0, 3, 300, 300.0, 0.0, "new")


def test_lump_rare_categories(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        lump_rare_categories,
    )

    rows = (
        [("x",)] * 5 + [("y",)] * 3 + [("z",)] * 1 + [("w",)] * 1
        + [(None,)] * 2
    )
    df = spark.createDataFrame(rows, "c string")
    got = {
        r["category_out"]: (r["n_rows"], r["n_source_categories"])
        for r in lump_rare_categories(df, "c", k=2).collect()
    }
    assert got["x"] == (5, 1)
    assert got["y"] == (3, 1)
    # z, w, NULL fold into OTHER
    assert got["__OTHER__"] == (4, 3)
    assert len(got) == 3


def test_prefix_dim_rerank_topk(spark):
    from hiv_data_integration_spark.operators.similarity import (
        prefix_dim_rerank_topk,
        cosine_topk,
    )

    # 4-dim vectors where the 2-dim prefix is a decent proxy
    rows = [
        (0, [1.0, 0.0, 0.1, 0.0]),
        (1, [0.9, 0.1, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.1]),
        (3, [0.1, 0.9, 0.0, 0.1]),
        (4, [0.8, 0.2, 0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    got = [
        (r["neighbor_id"], r["rank"])
        for r in prefix_dim_rerank_topk(q, df, prefix_dims=2, k=2, rerank=2)
        .orderBy("rank").collect()
    ]
    # full-dim exact top-2 for query 0 is {1, 4}; prefix stage keeps 4
    exact = [
        (r["neighbor_id"], r["rank"])
        for r in cosine_topk(q, df, k=2).orderBy("rank").collect()
    ]
    assert got == exact


def test_nearest_centroid_confusion(spark):
    from hiv_data_integration_spark.operators.similarity import (
        nearest_centroid_confusion,
    )

    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        (5, [0.95, 0.05], 1),   # mislabeled -> off-diagonal
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        (r["true_label"], r["pred_label"]): r["n"]
        for r in nearest_centroid_confusion(df).collect()
    }
    assert got[(0, 0)] == 2
    assert got[(1, 1)] == 2
    assert got[(1, 0)] == 1  # the mislabeled vector lands on centroid 0
    assert (0, 1) not in got


def test_rake_keyphrases(spark):
    from hiv_data_integration_spark.operators.textops import rake_keyphrases

    docs = [
        (1, "deep learning of the deep learning, and neural nets"),
        (2, "the deep learning"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["phrase"]: (
            r["n_occurrences"], r["deg_sum"], r["freq_sum"], r["score"]
        )
        for r in rake_keyphrases(df, "doc_id", "text", k=10).collect()
    }
    # candidate phrases (stopwords en + punct breaks):
    # "deep learning" x3, "neural nets" x1
    # deg: deep=6, learning=6, neural=2, nets=2; freq: deep=3,
    # learning=3, neural=1, nets=1
    assert got["deep learning"] == (3, 12, 6, 2.0)
    assert got["neural nets"] == (1, 4, 2, 2.0)
    assert len(got) == 2


def test_bigram_next_token_accuracy(spark):
    from hiv_data_integration_spark.operators.textops import (
        bigram_next_token_accuracy,
    )

    # bigrams: (a,b) x2, (a,c) x1, (b,a) x2, (c,a) x1
    docs = [(1, "a b a b a c a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = bigram_next_token_accuracy(df, "doc_id", "text").collect()[0]
    # pred(a)=b (2 of 3 hit), pred(b)=a (2 hit), pred(c)=a (1 hit)
    assert (got["n_bigrams"], got["n_prefix_types"], got["n_hits"]) == (
        6, 3, 5,
    )
    assert got["top1_accuracy"] == 5 / 6


def test_share_of_parent(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        share_of_parent,
    )

    rows = [
        ("r1", "n1", 60), ("r1", "n1", 0), ("r1", "n2", 40),
        ("r2", "n3", 100),
    ]
    df = spark.createDataFrame(rows, "region string, nation string, v long")
    res = share_of_parent(df, ["region", "nation"], "v")
    assert "share_of_nation" not in res.columns  # leaf share omitted
    got = {
        (r["region"], r["nation"]): (
            r["value"], r["total_region"], r["share_of_region"],
            r["total_all"], r["share_of_all"],
        )
        for r in res.collect()
    }
    assert got[("r1", "n1")] == (60, 100, 0.6, 200, 0.3)
    assert got[("r1", "n2")] == (40, 100, 0.4, 200, 0.2)
    assert got[("r2", "n3")] == (100, 100, 1.0, 200, 0.5)


def test_value_band_clusters(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        value_band_clusters,
    )

    # values 100,101,103 chain (gaps <=2), 110 separate; 101 repeated
    rows = [("k", 100), ("k", 101), ("k", 101), ("k", 103), ("k", 110)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r["cluster_seq"]: (r["n_values"], r["n_rows"], r["lo"], r["hi"])
        for r in value_band_clusters(df, ["k"], "v", epsilon=2).collect()
    }
    assert got[1] == (3, 4, 100, 103)
    assert got[2] == (1, 1, 110, 110)


def test_fd_violations(spark):
    from hiv_data_integration_spark.operators.validation import (
        fd_violations,
    )

    rows = [
        (1, "a"), (1, "a"), (1, "b"),   # group 1: 1 violation row
        (2, "c"), (2, "c"),             # group 2: holds
        (3, None),                      # NULL dep counts as a value
    ]
    df = spark.createDataFrame(rows, "k long, d string")
    got = fd_violations(df, ["k"], "d").collect()[0]
    assert (
        got["n_groups"], got["n_rows"], got["n_violating_groups"],
        got["n_violation_rows"], got["fd_holds"],
    ) == (3, 6, 1, 1, False)

    clean = spark.createDataFrame([(1, "a"), (2, "b")], "k long, d string")
    assert fd_violations(clean, ["k"], "d").collect()[0]["fd_holds"] is True


def test_recency_weighted_popularity(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        recency_weighted_popularity,
    )

    rows = [
        # as_of = max day = 2024-01-29 (epoch-day anchor)
        ("p", "2024-01-29 12:00:00", 10),   # age 0 hl -> w*1
        ("p", "2024-01-22 00:00:00", 10),   # 7 days -> 1 hl -> w/2
        ("p", "2024-01-08 00:00:00", 12),   # 21 days -> 3 hl -> w/8
        ("q", "2020-01-01 00:00:00", 99),   # >40 hl -> 0
    ]
    df = spark.createDataFrame(
        rows, "k string, ts string, w long"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        r["k"]: (r["n_events"], r["score"])
        for r in recency_weighted_popularity(
            df, ["k"], "ts", "w", half_life_days=7
        ).collect()
    }
    assert got["p"] == (3, 10 + 10 / 2 + 12 / 8)
    assert got["q"] == (1, 0.0)


def test_trimmed_mean(spark):
    from hiv_data_integration_spark.operators.aggregate import trimmed_mean

    # 10 values with two wild outliers; 10% trim drops one each end
    vals = [1000, -999999, 10, 20, 30, 40, 50, 60, 70, 999999]
    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = trimmed_mean(df, ["g"], "v", "id", trim_frac=0.1).collect()[0]
    kept = sorted(vals)[1:-1]
    assert (got["n_rows"], got["n_trimmed_each"]) == (10, 1)
    assert got["trimmed_mean"] == sum(kept) / len(kept)


def test_split_conformal_width(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        split_conformal_width,
    )

    # residuals 1..9, alpha=0.1 -> idx = ceil(10*0.9) = 9 -> width 9
    rows = [("g", r) for r in range(1, 10)] + [("h", -5)]
    df = spark.createDataFrame(rows, "g string, r long")
    got = {
        r["g"]: (r["n_calib"], r["q_index"], r["width"])
        for r in split_conformal_width(df, ["g"], "r").collect()
    }
    assert got["g"] == (9, 9, 9)
    # |-5| = 5; n=1 -> idx = min(ceil(2*0.9), 1) = 1
    assert got["h"] == (1, 1, 5)


def test_ma_crossover_signals(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        ma_crossover_signals,
    )

    # long=3, short=2: values dip then spike
    vals = [10, 10, 10, 1, 1, 50]
    rows = [("g", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    got = {
        r["t"]: (r["regime_up"], r["signal"])
        for r in ma_crossover_signals(
            df, ["g"], "t", "v", short_window=2, long_window=3
        ).collect()
    }
    assert got[0] == (None, None) and got[1] == (None, None)  # warm-up
    # t=2: short=[10,10] mean 10, long mean 10 -> not strictly greater
    assert got[2] == (False, None)  # prev regime NULL -> no signal
    # t=3: short=[10,1]=5.5, long=[10,10,1]=7 -> down
    assert got[3] == (False, 0)
    # t=4: short=[1,1]=1, long=[10,1,1]=4 -> down
    assert got[4] == (False, 0)
    # t=5: short=[1,50]=25.5, long=[1,1,50]=17.33 -> up: +1 crossover
    assert got[5] == (True, 1)


def test_weighted_jaccard_sources(spark):
    from hiv_data_integration_spark.operators.textops import (
        weighted_jaccard_sources,
    )

    rows = [
        ("s1", "a a b"), ("s2", "a b b c"),
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    got = weighted_jaccard_sources(df, "src", "text").collect()[0]
    # counts s1: a2 b1 (T=3); s2: a1 b2 c1 (T=4)
    # shared min: a->1, b->1 = 2; union max = 3+4-2 = 5
    assert (
        got["source_a"], got["source_b"], got["shared_min"],
        got["total_a"], got["total_b"], got["weighted_jaccard"],
    ) == ("s1", "s2", 2, 3, 4, 0.4)


def test_correlation_rsq(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        correlation_rsq,
    )

    rows = (
        [("lin", x, 2 * x + 1) for x in range(10)]         # r = 1
        + [("anti", x, -3 * x) for x in range(5)]          # r = -1
        + [("flat", x, 7) for x in range(4)]               # dy = 0
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r["g"]: (r["n"], r["sign"], r["r_squared"])
        for r in correlation_rsq(df, "x", "y", ["g"]).collect()
    }
    assert got["lin"] == (10, 1, 1.0)
    assert got["anti"] == (5, -1, 1.0)
    assert got["flat"][2] is None and got["flat"][1] == 0


def test_cross_source_duplicate_matrix(spark):
    from hiv_data_integration_spark.operators.dedup import (
        cross_source_duplicate_matrix,
    )

    rows = [
        ("s1", "x"), ("s1", "y"), ("s1", "x"),   # dup fp within source
        ("s2", "x"), ("s2", "z"),
        ("s3", "q"),
    ]
    df = spark.createDataFrame(rows, "src string, fp string")
    got = {
        (r["source_a"], r["source_b"]): (
            r["n_shared"], r["n_a"], r["n_b"],
            r["share_of_a"], r["share_of_b"],
        )
        for r in cross_source_duplicate_matrix(
            df, "src", F.col("fp")
        ).collect()
    }
    # s1 fps {x,y}, s2 {x,z}: share x
    assert got[("s1", "s2")] == (1, 2, 2, 0.5, 0.5)
    assert ("s1", "s3") not in got  # no overlap -> no row
    assert len(got) == 1


def test_effective_sample_size(spark):
    from hiv_data_integration_spark.operators.sampling import (
        effective_sample_size,
    )

    rows = [("g", 1), ("g", 1), ("g", 1), ("g", 1),   # equal -> ESS = n
            ("h", 100), ("h", 1), ("h", 0), ("h", None)]
    df = spark.createDataFrame(rows, "g string, w long")
    got = {
        r["g"]: (r["n_rows"], r["sum_w"], r["ess"], r["ess_ratio"])
        for r in effective_sample_size(df, "w", ["g"]).collect()
    }
    assert got["g"] == (4, 4, 4.0 * (4.0 / 4.0), 1.0)
    # h: w={100,1}: ESS = 101*(101/10001)
    assert got["h"][0] == 2 and got["h"][1] == 101
    assert got["h"][2] == 101.0 * (101.0 / 10001.0)


def test_behavior_bitmask_segments(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        behavior_bitmask_segments,
    )

    rows = [
        (1, "click"), (1, "purchase"), (1, "click"),
        (2, "click"),
        (3, "view"),          # uncategorized -> mask 0
    ]
    df = spark.createDataFrame(rows, "u long, e string")
    got = {
        r["mask"]: (r["segment"], r["n_users"])
        for r in behavior_bitmask_segments(
            df, "u", "e", ["click", "purchase"]
        ).collect()
    }
    assert got[3] == ("click+purchase", 1)
    assert got[1] == ("click", 1)
    assert got[0] == ("", 1)


def test_max_concurrency(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        max_concurrency,
    )

    rows = [
        # three overlapping at 00:01:30; one back-to-back pair
        ("g", "2024-01-01 00:00:00", "2024-01-01 00:02:00"),
        ("g", "2024-01-01 00:01:00", "2024-01-01 00:03:00"),
        ("g", "2024-01-01 00:01:30", "2024-01-01 00:01:45"),
        ("g", "2024-01-01 00:03:00", "2024-01-01 00:04:00"),  # b2b: no +1
        ("h", "2024-01-01 00:00:00", "2024-01-01 00:00:00"),  # empty: drop
        ("h", "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
    ]
    df = spark.createDataFrame(
        rows, "g string, s string, e string"
    ).select(
        "g",
        F.col("s").cast("timestamp_ntz").alias("s"),
        F.col("e").cast("timestamp_ntz").alias("e"),
    )
    got = {
        r["g"]: (r["n_intervals"], r["peak_concurrency"], r["t_peak"])
        for r in max_concurrency(df, "s", "e", ["g"]).collect()
    }
    day = 19723 * 86400  # 2024-01-01 epoch days * sec
    assert got["g"] == (4, 3, day + 90)
    assert got["h"] == (1, 1, day)


def test_xyz_classification(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        xyz_classification,
    )

    rows = (
        [("steady", p, 10) for p in range(4)]            # CV = 0 -> X
        + [("var", 0, 10), ("var", 1, 30)]               # CV^2 = 0.25 -> X edge
        + [("errat", 0, 1), ("errat", 1, 100)]           # CV^2 ~ 0.96 -> Y
        + [("spike", 0, 0), ("spike", 1, 0), ("spike", 2, 100)]  # > 1 -> Z
        + [("dead", 0, 0)]                               # zero total -> Z
    )
    df = spark.createDataFrame(rows, "item string, p long, q long")
    got = {
        r["item"]: (r["n_periods"], r["demand_total"], r["xyz_class"])
        for r in xyz_classification(df, ["item"], "p", "q").collect()
    }
    assert got["steady"] == (4, 40, "X")
    assert got["var"] == (2, 40, "X")      # boundary inclusive
    assert got["errat"][2] == "Y"
    assert got["spike"][2] == "Z"
    assert got["dead"] == (1, 0, "Z")


def test_stack_by_prefix_rejects_unrenderable_indicators(spark):
    """Float/bool indicators would silently truncate (str(int(x))) or
    relabel (True→1) — they must raise TypeError instead; int and str
    render faithfully."""
    df = spark.createDataFrame([("ou1", 1)], "ou string, ind_9_a long")
    for bad in (9.5, True):
        with pytest.raises(TypeError, match="must be str or int"):
            stack_by_prefix(df, ["ou"], {"ind_9": bad})
    ok = stack_by_prefix(df, ["ou"], {"ind_9": 9})
    assert [r["indicateur"] for r in ok.collect()] == [9]


def test_incremental_dedup_skip_probe(spark):
    """skip_probe=True elides the broadcast guard's extra Spark job for
    callers that already bound the batch: same results on a small batch,
    and an over-cap batch broadcasts anyway (caller's responsibility)
    instead of raising."""
    from hiv_data_integration_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta"),
            (11, "totally different words compose this document body"),
        ],
        "doc_id long, text string",
    )
    base = {
        r.doc_id: (r.n_matches, r.is_dup)
        for r in incremental_dedup(new, corpus, "doc_id", "text").collect()
    }
    skipped = {
        r.doc_id: (r.n_matches, r.is_dup)
        for r in incremental_dedup(
            new, corpus, "doc_id", "text", skip_probe=True
        ).collect()
    }
    assert skipped == base
    # over the cap: default raises, skip_probe proceeds (still broadcasts)
    big = spark.createDataFrame(
        [(i, f"document number {i} with several words") for i in range(40)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="too large to broadcast"):
        incremental_dedup(big, corpus, "doc_id", "text", max_broadcast_rows=32)
    out = incremental_dedup(
        big, corpus, "doc_id", "text",
        max_broadcast_rows=32, skip_probe=True,
    )
    assert out.count() == 40


def test_token_budget_select_matches_global_greedy(spark):
    """The bucketed two-phase selection must equal the naive global
    greedy (SUM(cost) OVER (ORDER BY score DESC, id) <= budget) — checked
    on a fixture that exercises every regime: a fully-included bucket, a
    boundary bucket split mid-way, ties on score resolved by id, and
    cost<=0 rows that must never be selected."""
    from pyspark.sql.window import Window

    from hiv_data_integration_spark.operators.sampling import (
        token_budget_select,
    )

    rows = [
        # (id, cost, score): scores 9 (12 tokens), 7 (3+5+4=12), 5 (20)
        (1, 7, 9), (2, 5, 9),
        (3, 3, 7), (4, 5, 7), (5, 4, 7),
        (6, 20, 5),
        (7, 0, 9),   # zero-cost: excluded by contract
        (8, -2, 9),  # negative-cost: excluded by contract
    ]
    df = spark.createDataFrame(rows, "id long, cost long, score long")
    # total positive cost = 44; budget 2/5 -> 17: bucket 9 (12) fully in,
    # boundary bucket 7 admits id=3 (cum 15) and rejects id=4 (cum 20)
    # but NOT id=5 either (greedy prefix rule, not knapsack re-fill)
    got = {
        r["id"] for r in token_budget_select(
            df, "id", "cost", "score", 2, 5
        ).collect()
    }
    naive = df.filter("cost > 0").withColumn(
        "_cum",
        F.sum("cost").over(
            Window.orderBy(F.col("score").desc(), F.col("id"))
        ),
    ).filter(F.col("_cum") <= 17)
    expect = {r["id"] for r in naive.collect()}
    assert got == expect == {1, 2, 3}

    # degenerate budgets
    assert token_budget_select(df, "id", "cost", "score", 0, 1).count() == 0
    full = token_budget_select(df, "id", "cost", "score", 1, 1)
    assert {r["id"] for r in full.collect()} == {1, 2, 3, 4, 5, 6}
    with pytest.raises(ValueError, match="budget fraction"):
        token_budget_select(df, "id", "cost", "score", 1, 0)


def test_pii_risk_tiers_counts_distinct_kinds(spark):
    from hiv_data_integration_spark.operators.textops import pii_risk_tiers

    df = spark.createDataFrame(
        [
            (1, "clean text with no identifiers"),
            (2, "mail me at a.b@example.com please"),
            (3, "a.b@example.com or call +225 0102030405 now"),
            (4, "host 10.0.0.1 phone +1 (555) 123-4567 mail x@y.io"),
            (5, "two mails a@b.co and c@d.org still ONE kind"),
        ],
        "id long, text string",
    )
    out = {r["id"]: (r["n_pii_kinds"], r["pii_tier"]) for r in pii_risk_tiers(df).collect()}
    assert out[1] == (0, "none")
    assert out[2] == (1, "single")
    assert out[3][0] >= 2 and out[3][1] == "multi"
    assert out[4][0] == 3 and out[4][1] == "multi"
    assert out[5] == (1, "single")  # kind count, not match count


def test_vocab_coverage_cumulative_share(spark):
    from hiv_data_integration_spark.operators.textops import vocab_coverage

    df = spark.createDataFrame(
        [("a a a b b c",), ("a b c d",)], "text string"
    )
    # occurrences: a=4, b=3, c=2, d=1 (total 10)
    out = vocab_coverage(df, k=3).collect()
    assert [(r["rank"], r["token"], r["n_occurrences"]) for r in out] == [
        (1, "a", 4), (2, "b", 3), (3, "c", 2),
    ]
    assert [r["cum_share"] for r in out] == [0.4, 0.7, 0.9]


def test_bpe_learn_merges_greedy_and_ranked(spark):
    """Pin the two subtle BPE semantics: (1) greedy non-overlapping merge
    inside left==right runs ("aaaa" merges at even offsets -> [aa, aa],
    then (aa,aa) is the next pair), and (2) deterministic rule selection
    (max weighted count, lexicographically smallest pair on ties)."""
    from hiv_data_integration_spark.operators.textops import bpe_learn_merges

    chain = spark.createDataFrame([("aaaa",)], "text string")
    got = [tuple(r) for r in bpe_learn_merges(chain, iterations=2).collect()]
    assert sorted(got) == [
        (1, "a", "a", "aa", 3),   # overlapping pair COUNT is 3...
        (2, "aa", "aa", "aaaa", 1),  # ...but the greedy merge yields [aa, aa]
    ]

    # tie: (a,b) and (c,d) both count 2 -> lexicographically smaller wins
    tie = spark.createDataFrame([("ab cd ab cd",)], "text string")
    first = [tuple(r) for r in bpe_learn_merges(tie, iterations=1).collect()]
    assert first == [(1, "a", "b", "ab", 2)]

    # non-alpha and 1-char words never enter the vocabulary
    noise = spark.createDataFrame([("x y2k a bb bb",)], "text string")
    got = [tuple(r) for r in bpe_learn_merges(noise, iterations=1).collect()]
    assert got == [(1, "b", "b", "bb", 2)]

    # iterations past pair exhaustion emit no rows
    tiny = spark.createDataFrame([("ab",)], "text string")
    assert bpe_learn_merges(tiny, iterations=3).count() == 1


def test_label_propagation_deterministic_communities(spark):
    """LPA semantics pinned on a hand-checkable graph: a triangle {1,2,3}
    plus a pendant 4-5 edge. Round 1: each triangle node sees two
    distinct neighbor labels (tie) -> adopts the SMALLEST; isolated-pair
    nodes swap labels. Ties and isolated-node carry-over are the two
    rules classic randomized LPA leaves unspecified."""
    from hiv_data_integration_spark.operators.dedup import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], "node long")
    one = {r["node"]: r["label"] for r in label_propagation(edges, nodes, iters=1).collect()}
    # triangle: 1 sees {2,3}->2; 2 sees {1,3}->1; 3 sees {1,2}->1; pair swaps
    assert one == {1: 2, 2: 1, 3: 1, 4: 5, 5: 4}
    two = {r["node"]: r["label"] for r in label_propagation(edges, nodes, iters=2).collect()}
    # round 2: 1 sees {1,1}->1; 2 sees {2,1}(counts 1,1 tie)->1; 3 same ->1
    assert two == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    # isolated node keeps its own label through every round
    nodes6 = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 6)], "node long")
    three = {r["node"]: r["label"] for r in label_propagation(edges, nodes6, iters=3).collect()}
    assert three[6] == 6


def test_hll_registers_merge_and_estimate(spark):
    """The register table is the MERGEABLE sketch state: max-merging the
    registers of two disjoint halves must equal the registers of the
    union (the property that lets a 100 TB pipeline sketch per segment
    and combine), and the raw estimate must sit within 4 sigma
    (1.04/sqrt(256) * 4 = 26%) of the true distinct count in the raw
    regime n > 2.5m."""
    from hiv_data_integration_spark.operators.aggregate import (
        hll_estimate,
        hll_registers,
    )

    a = spark.range(0, 3000).selectExpr("id AS v")
    b = spark.range(3000, 6000).selectExpr("id AS v")
    union_regs = {
        (r["bucket"], r["register"])
        for r in hll_registers(a.unionByName(b), "v").collect()
    }
    merged = (
        hll_registers(a, "v").unionByName(hll_registers(b, "v"))
        .groupBy("bucket").agg(F.max("register").alias("register"))
    )
    assert {(r["bucket"], r["register"]) for r in merged.collect()} == union_regs

    est = hll_estimate(hll_registers(a.unionByName(b), "v")).collect()[0]
    assert abs(est["estimate"] / 6000.0 - 1.0) <= 0.26
    # duplicates don't move the sketch: registers are set-semantics
    dup = a.unionByName(a)
    assert (
        hll_estimate(hll_registers(dup, "v")).collect()[0]["harmonic_num"]
        == hll_estimate(hll_registers(a, "v")).collect()[0]["harmonic_num"]
    )

    with pytest.raises(ValueError, match="power of two"):
        hll_registers(a, "v", m=100)


def test_minhash_eval_truth_sample_knob(spark):
    """``truth_sample_mod`` prices the exact ground truth independently
    of the dedup stack: mod=1 (the battery/oracle default) is the full
    exact eval; mod>1 evaluates on the deterministic md5 1/mod pair
    subsample, where the sampled truth must be a SUBSET of the full
    truth, both counts/ratios stay internally consistent, and the same
    predicate gates candidates and truth so precision/recall remain
    unbiased estimators. With mod=1 the knob is a no-op (bit-identical
    to the pre-knob construction)."""
    from hiv_data_integration_spark.operators.dedup import (
        minhash_lsh_eval,
        ngram_jaccard_pairs,
        pair_sample_pred,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = []
    for i in range(40):
        # 20 near-dup pairs (one-word suffix tweak) + drifting filler
        rows.append((2 * i, f"{base} variant {i}"))
        rows.append((2 * i + 1, f"{base} variant {i} extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = minhash_lsh_eval(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        jaccard_threshold=0.5, truth_sample_mod=1,
    ).collect()[0]
    assert full["n_truth"] > 0 and full["n_candidates"] > 0
    assert 0.0 < full["recall"] <= 1.0

    mod = 2
    sampled = minhash_lsh_eval(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        jaccard_threshold=0.5, truth_sample_mod=mod,
    ).collect()[0]
    # sampled truth is exactly the full truth restricted to the predicate
    full_truth = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, jaccard_threshold=0.5
    ).select("id_a", "id_b")
    expect = set(
        map(tuple, full_truth.filter(pair_sample_pred(mod)).collect())
    )
    got = set(
        map(
            tuple,
            ngram_jaccard_pairs(
                docs, "doc_id", "text", shingle_n=3,
                jaccard_threshold=0.5, pair_sample_mod=mod,
            ).select("id_a", "id_b").collect(),
        )
    )
    assert got == expect
    assert got <= set(map(tuple, full_truth.collect()))
    assert 0 < sampled["n_truth"] < full["n_truth"]
    assert sampled["n_verified"] <= sampled["n_candidates"]
    assert sampled["n_verified"] <= sampled["n_truth"]

    with pytest.raises(ValueError, match=">= 1"):
        pair_sample_pred(0)


def test_kmv_sketch_merge_and_estimate(spark):
    """KMV state is mergeable (k smallest of the union of two sketches ==
    sketch of the union), the estimate is exact below k, and within
    4/sqrt(k-1) of truth above it."""
    from hiv_data_integration_spark.operators.aggregate import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    k = 32
    small = spark.range(0, 10).selectExpr("id AS v")
    est = kmv_estimate(kmv_sketch(small, "v", k), k).collect()[0]
    assert est["n_kept"] == 10 and est["estimate"] == 10.0

    a = spark.range(0, 2000).selectExpr("id AS v")
    b = spark.range(1000, 3000).selectExpr("id AS v")
    merged = kmv_merge(kmv_sketch(a, "v", k), kmv_sketch(b, "v", k), k=k)
    direct = kmv_sketch(a.unionByName(b), "v", k)
    assert {r["h"] for r in merged.collect()} == {
        r["h"] for r in direct.collect()
    }
    est_u = kmv_estimate(merged, k).collect()[0]
    assert abs(est_u["estimate"] / 3000.0 - 1.0) <= 4.0 / (k - 1) ** 0.5

    with pytest.raises(ValueError, match=">= 2"):
        kmv_sketch(a, "v", 1)


def test_k_core_peel_known_graph(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle
    (pendants peel off), and a k above the max degree empties the
    graph."""
    from hiv_data_integration_spark.operators.dedup import k_core_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    core = k_core_peel(edges, k=2, iters=3).collect()
    assert {(r["node"], r["degree"]) for r in core} == {
        (1, 2), (2, 2), (3, 2)
    }
    assert k_core_peel(edges, k=3, iters=3).count() == 0
    with pytest.raises(ValueError, match=">= 1"):
        k_core_peel(edges, k=0)


def test_blocking_quality_census_math(spark):
    """4 records, 2 entities; blocking splits one entity across blocks:
    total=6 pairs, candidates=3 (block b1 holds 3 records -> 3 pairs),
    truth=2, covered=1 — ratios follow."""
    from hiv_data_integration_spark.operators.fuzzy import blocking_quality

    df = spark.createDataFrame(
        [("b1", "e1"), ("b1", "e1"), ("b2", "e2"), ("b1", "e2")],
        "blk string, ent string",
    )
    r = blocking_quality(df, "blk", "ent").collect()[0]
    assert r["n_records"] == 4 and r["total_pairs"] == 6
    assert r["candidate_pairs"] == 3  # block b1 has 3 records -> 3 pairs
    assert r["truth_pairs"] == 2 and r["covered_truth"] == 1
    assert r["reduction_ratio"] == 1.0 - 3.0 / 6.0
    assert r["pairs_completeness"] == 0.5
    assert r["pairs_quality"] == 1.0 / 3.0


def test_tokenizer_fertility_exact_counts(spark):
    from hiv_data_integration_spark.operators.textops import (
        tokenizer_fertility,
    )

    df = spark.createDataFrame(
        [("en", "Hello, world!"), ("en", "a b"), ("fr", "état d'art")],
        "lang string, text string",
    )
    out = {r["lang"]: r for r in tokenizer_fertility(df, "text", ["lang"]).collect()}
    # "Hello, world!" -> regex tokens: Hello , world ! (4); ws words: 2
    # "a b" -> 2 tokens, 2 words
    en = out["en"]
    assert en["n_docs"] == 2 and en["n_words"] == 4 and en["n_tokens"] == 6
    assert en["n_chars"] == len("Hello, world!") + len("a b")
    assert en["fertility"] == 6.0 / 4.0
    fr = out["fr"]
    assert fr["n_words"] == 2  # état d'art
    # \w is ASCII-only in BOTH Java regex and RE2 (the cross-engine
    # agreement the pattern is chosen for), so é is a symbol token:
    # é | tat | d | ' | art
    assert fr["n_tokens"] == 5


def test_stratified_exact_split_proportions(spark):
    """Every stratum's train count is exactly floor(n_s * 4/5), the
    assignment is deterministic, and degenerate fractions raise."""
    from hiv_data_integration_spark.operators.sampling import (
        stratified_exact_split,
    )

    rows = [(i, "a") for i in range(10)] + [(i, "b") for i in range(100, 107)]
    df = spark.createDataFrame(rows, "id long, s string")
    out = stratified_exact_split(df, "id", "s", 4, 5)
    counts = {
        (r["s"], r["split"]): r["n"]
        for r in out.groupBy("s", "split").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert counts[("a", "train")] == 8      # floor(10*4/5)
    assert counts[("b", "train")] == 5      # floor(7*4/5) = 5
    assert counts[("a", "holdout")] == 2 and counts[("b", "holdout")] == 2
    # determinism: same assignment on re-run
    a1 = sorted(map(tuple, out.select("id", "split").collect()))
    a2 = sorted(map(tuple,
        stratified_exact_split(df, "id", "s", 4, 5)
        .select("id", "split").collect()))
    assert a1 == a2
    with pytest.raises(ValueError, match="in \\(0, 1\\)"):
        stratified_exact_split(df, "id", "s", 5, 5)


def test_seasonal_index_dow_flat_series(spark):
    """A perfectly flat daily series has index 1.0 on every weekday, and
    doubling one weekday's value moves only that index."""
    import datetime as dt

    from hiv_data_integration_spark.operators.aggregate import (
        seasonal_index_dow,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(days=i), 10.0) for i in range(28)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = seasonal_index_dow(df, "ts", "value").collect()
    assert len(out) == 7
    assert all(r["seasonal_index"] == 1.0 for r in out)
    assert all(r["n_days"] == 4 for r in out)

    spiked = df.withColumn(
        "value",
        F.when(F.pmod(F.unix_date(F.col("ts").cast("date")), 7) == 0,
               F.lit(20.0)).otherwise(F.col("value")),
    )
    out2 = {r["dow"]: r["seasonal_index"]
            for r in seasonal_index_dow(spiked, "ts", "value").collect()}
    assert out2[0] > 1.0 and all(v < 1.0 for d, v in out2.items() if d != 0)


def test_heaps_vocab_curve_monotone(spark):
    from hiv_data_integration_spark.operators.textops import (
        heaps_vocab_curve,
    )

    rows = [(1, "a b c"), (2, "a b d"), (3, "e f"), (10, "a g")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["checkpoint"]: r
           for r in heaps_vocab_curve(df, "doc_id", "text", [1, 2, 5, 10])
           .collect()}
    assert out[1]["vocab_size"] == 3 and out[1]["n_tokens"] == 3
    assert out[2]["vocab_size"] == 4 and out[2]["n_tokens"] == 6
    assert out[5]["vocab_size"] == 6 and out[5]["n_tokens"] == 8
    assert out[10]["vocab_size"] == 7 and out[10]["n_tokens"] == 10
    assert out[1]["type_token_ratio"] == 1.0


def test_key_candidate_audit_verdicts(spark):
    from hiv_data_integration_spark.operators.validation import (
        key_candidate_audit,
    )

    df = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "x"), (2, 1, "y"), (2, 1, "z")],
        "a long, b long, c string",
    )
    out = {r["candidate"]: r for r in key_candidate_audit(
        df, {"ab": ["a", "b"], "a": ["a"], "abc": ["a", "b", "c"]}
    ).collect()}
    assert not out["ab"]["is_unique"] and out["ab"]["dup_rows"] == 2
    assert out["ab"]["max_group_rows"] == 2 and out["ab"]["n_groups"] == 3
    assert not out["a"]["is_unique"] and out["a"]["dup_rows"] == 4
    assert out["abc"]["is_unique"] and out["abc"]["dup_rows"] == 0
    assert all(r["n_rows"] == 4 for r in out.values())


def test_business_days_between_known_spans(spark):
    """Hand-checked weekday counts: 1970-01-01 is a Thursday; spans
    crossing weekends, starting on weekends, zero-length and reversed
    spans all follow the half-open [start, end) contract."""
    import datetime as dt

    from hiv_data_integration_spark.functions import business_days_between

    cases = [
        # (start, end, expected weekdays in [start, end))
        (dt.date(2024, 1, 1), dt.date(2024, 1, 8), 5),   # Mon -> next Mon
        (dt.date(2024, 1, 5), dt.date(2024, 1, 8), 1),   # Fri -> Mon
        (dt.date(2024, 1, 6), dt.date(2024, 1, 8), 0),   # Sat -> Mon
        (dt.date(2024, 1, 1), dt.date(2024, 1, 1), 0),   # empty span
        (dt.date(2024, 1, 8), dt.date(2024, 1, 1), -5),  # reversed
        (dt.date(2024, 1, 1), dt.date(2024, 2, 1), 23),  # full January
    ]
    df = spark.createDataFrame(
        [(a, b, e) for a, b, e in cases], "a date, b date, want long"
    )
    out = df.select(
        "want", business_days_between(F.col("a"), F.col("b")).alias("got")
    ).collect()
    assert all(r["got"] == r["want"] for r in out), [tuple(r) for r in out]


def test_hll_grouped_matches_global_per_group(spark):
    """The grouped register table restricted to one group equals the
    global sketch of that group's rows (same md5/rho construction), and
    per-group estimates stay in the raw-regime envelope."""
    from hiv_data_integration_spark.operators.aggregate import (
        hll_estimate_grouped,
        hll_registers,
        hll_registers_grouped,
    )

    df = spark.range(0, 4000).selectExpr(
        "id AS v", "CAST(id % 2 AS STRING) AS g"
    )
    grouped = {
        (r["g"], r["bucket"], r["register"])
        for r in hll_registers_grouped(df, ["g"], "v", m=64).collect()
    }
    solo = {
        ("0", r["bucket"], r["register"])
        for r in hll_registers(df.filter("g = '0'"), "v", m=64).collect()
    }
    assert {t for t in grouped if t[0] == "0"} == solo
    est = {
        r["g"]: r["estimate"]
        for r in hll_estimate_grouped(
            hll_registers_grouped(df, ["g"], "v", m=64), ["g"], m=64
        ).collect()
    }
    for g in ("0", "1"):  # 2000 distinct per group, 4sigma = 52% at m=64
        assert abs(est[g] / 2000.0 - 1.0) <= 0.52


def test_range_partition_boundaries_exact_ranks(spark):
    from hiv_data_integration_spark.operators.aggregate import (
        range_partition_boundaries,
    )

    df = spark.range(1, 101).selectExpr("id AS v")  # ranks 1..100
    out = {
        r["boundary_idx"]: (r["rank"], r["v"])
        for r in range_partition_boundaries(df, ["v"], 4).collect()
    }
    assert out == {1: (25, 25), 2: (50, 50), 3: (75, 75)}
    # non-divisible: n=10, N=4 -> ceil(2.5)=3, ceil(5)=5, ceil(7.5)=8
    df10 = spark.range(1, 11).selectExpr("id AS v")
    out10 = {
        r["boundary_idx"]: r["rank"]
        for r in range_partition_boundaries(df10, ["v"], 4).collect()
    }
    assert out10 == {1: 3, 2: 5, 3: 8}
    with pytest.raises(ValueError, match=">= 2"):
        range_partition_boundaries(df, ["v"], 1)


def test_coverage_set_census_integer_boundary(spark):
    """Counts 5/3/1/1: total=10, 80% needs cum>=8 -> exactly the first
    two items (cum 8) — the all-integer comparison must include the
    exact-boundary row."""
    from hiv_data_integration_spark.operators.aggregate import (
        coverage_set_census,
    )

    rows = (
        [("g", "a")] * 5 + [("g", "b")] * 3 + [("g", "c")] + [("g", "d")]
    )
    df = spark.createDataFrame(rows, "g string, it string")
    r = coverage_set_census(df, "g", "it", 80, 100).collect()[0]
    assert r["n_items"] == 4 and r["total_count"] == 10
    assert r["k_for_pct"] == 2 and r["head_count"] == 8


def _tiny_gif(w, h, frames, mcs=8, trailer=True):
    """Hand-build a GIF89a byte stream (identity grayscale GCT) with the
    same real-LZW encoder convention the battery synthesis uses."""
    import struct

    def lzw_encode(indices, mcs):
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        out, cur, curbits = bytearray(), 0, 0
        code_size = mcs + 1

        def emit(code):
            nonlocal cur, curbits
            cur |= code << curbits
            curbits += code_size
            while curbits >= 8:
                out.append(cur & 0xFF)
                cur >>= 8
                curbits -= 8

        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        emit(clear)
        prev = b""
        for b in indices:
            cand = prev + bytes([b])
            if cand in table:
                prev = cand
                continue
            emit(table[prev])
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
            prev = bytes([b])
        if prev:
            emit(table[prev])
        emit(eoi)
        if curbits:
            out.append(cur & 0xFF)
        return bytes(out)

    buf = bytearray(b"GIF89a")
    buf += struct.pack("<HHBBB", w, h, 0x80 | 0x70 | 0x07, 0, 0)
    for i in range(256):
        buf += bytes((i, i, i))
    for delay, indices in frames:
        buf += b"\x21\xf9" + bytes((4, 0)) + struct.pack("<H", delay) + b"\x00\x00"
        buf += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        buf.append(mcs)
        data = lzw_encode(indices, mcs)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            buf.append(len(chunk))
            buf += chunk
        buf.append(0)
    if trailer:
        buf += b"\x3b"
    return bytes(buf)


def test_gif_decoder_flickinger_sample():
    """The LZW decoder must match the independently published 10x10
    code-stream/pixel pair from Matthew Flickinger's "What's In A GIF"
    walkthrough — spec conformance, not self-consistency."""
    from hiv_data_integration_spark.operators.multimodal import (
        _make_gif_decoder,
    )
    import struct

    codes = bytes(
        [0x8C, 0x2D, 0x99, 0x87, 0x2A, 0x1C, 0xDC, 0x33, 0xA0, 0x02,
         0x75, 0xEC, 0x95, 0xFA, 0xA8, 0xDE, 0x60, 0x8C, 0x04, 0x91,
         0x4C, 0x01, 0x00]
    )
    expected_idx = bytes(
        [1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
         1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
         1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
         1, 1, 1, 0, 0, 0, 0, 2, 2, 2,
         1, 1, 1, 0, 0, 0, 0, 2, 2, 2,
         2, 2, 2, 0, 0, 0, 0, 1, 1, 1,
         2, 2, 2, 0, 0, 0, 0, 1, 1, 1,
         2, 2, 2, 2, 2, 1, 1, 1, 1, 1,
         2, 2, 2, 2, 2, 1, 1, 1, 1, 1,
         2, 2, 2, 2, 2, 1, 1, 1, 1, 1]
    )
    # wrap the published stream in a container with a 4-entry identity
    # palette (mcs=2) so decode_gif's palette->luma is the identity
    buf = bytearray(b"GIF89a") + struct.pack("<HHBBB", 10, 10, 0x80 | 0x01, 0, 0)
    for i in range(4):
        buf += bytes((i, i, i))
    buf += b"\x2c" + struct.pack("<HHHHB", 0, 0, 10, 10, 0)
    buf.append(2)
    buf.append(len(codes))
    buf += codes
    buf.append(0)
    buf += b"\x3b"
    dec = _make_gif_decoder()
    res = dec(bytes(buf))
    assert res is not None
    w, h, frames = res
    assert (w, h) == (10, 10) and len(frames) == 1
    assert frames[0][3] == expected_idx


def test_gif_frame_stats_round_trip(spark):
    """Multi-frame container round-trip through the Spark operator: per-
    frame sums/checksums must equal values computed directly from the
    source index grids (the encoder is exercised with real LZW)."""
    import pandas as pd

    grids = {}
    rows = []
    for doc_id in (0, 5, 11):
        w = 8 * (1 + doc_id % 3)
        h = 8 * (1 + (doc_id // 3) % 2)
        nf = 1 + doc_id % 4
        frames = []
        for f in range(nf):
            idx = bytes(
                (7 * x + 13 * y + 11 * f + doc_id) % 256
                for y in range(h)
                for x in range(w)
            )
            frames.append(((doc_id + f) % 100, idx))
            grids[(doc_id, f)] = (w, h, idx)
        rows.append((doc_id, bytearray(_tiny_gif(w, h, frames))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.gif_frame_stats(df).collect()
    assert len(out) == sum(1 + d % 4 for d in (0, 5, 11))
    for r in out:
        w, h, idx = grids[(r["media_id"], r["frame_idx"])]
        assert (r["width"], r["height"]) == (w, h)
        assert r["decoder"] == "gif"
        assert r["delay_cs"] == (r["media_id"] + r["frame_idx"]) % 100
        assert r["pix_sum"] == sum(idx)
        assert r["pix_checksum"] == sum(v * (i + 1) for i, v in enumerate(idx))


def test_gif_malformed_payloads_fall_back_to_stub(spark):
    rows = [
        (1, bytearray(b"GIF89a" + b"\x00" * 4)),   # truncated descriptor
        (2, bytearray(b"NOTGIF" + b"\x00" * 40)),  # wrong signature
        (3, None),                                  # null payload
        (4, bytearray(_tiny_gif(8, 8, [(0, bytes(64))])[:-10])),  # cut LZW
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.gif_frame_stats(df).collect()
    assert len(out) == 4
    assert all(r["decoder"] == "stub" and r["frame_idx"] == -1 for r in out)
    thumbs = mm.gif_resize_nearest(df).collect()
    assert all(r["decoder"] == "stub" for r in thumbs)
    samples = mm.gif_sample_frames(df).collect()
    assert all(r["decoder"] == "stub" for r in samples)


def test_gif_sample_frames_lattice(spark):
    """k=3 uniform sampling: nf=4 -> picks {0,1,3}; nf=1 -> {0}."""
    rows = []
    for doc_id, nf in ((100, 4), (101, 1)):
        frames = []
        for f in range(nf):
            idx = bytes((x + f) % 256 for x in range(64))
            frames.append((0, idx))
        rows.append((doc_id, bytearray(_tiny_gif(8, 8, frames))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.gif_sample_frames(df, k=3).collect()
    picks = sorted(
        (r["media_id"], r["frame_idx"]) for r in out
    )
    assert picks == [(100, 0), (100, 1), (100, 3), (101, 0)]
    for r in out:
        f = r["frame_idx"]
        idx = bytes((x + f) % 256 for x in range(64))
        assert r["pix_sum"] == sum(idx)


def test_audio_haar_bands_exact(spark):
    """Haar cascade vs a direct per-level reference on a hand-built WAV."""
    import struct

    samples = [((i * 37 + 11) % 4001) - 2000 for i in range(80)]
    body = struct.pack("<80h", *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 8 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(body)) + body
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav))], "doc_id long, payload binary"
    )
    r = mm.audio_haar_bands(df).select("haar.*").collect()[0]
    a = samples[:64]
    bands = []
    for _ in range(6):
        s, e = [], 0
        for i in range(0, len(a), 2):
            s.append(a[i] + a[i + 1])
            e += (a[i] - a[i + 1]) ** 2
        bands.append(e)
        a = s
    assert r["n_stream_samples"] == 80
    assert r["decoder"] == "wav"
    assert [r[f"band_{i}"] for i in range(1, 7)] == bands
    assert r["approx_sq"] == a[0] * a[0] == sum(samples[:64]) ** 2
    # short stream -> labeled stub, not silent zero-padding
    short = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 8 + 40) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 40) + b"\x01" * 40
    )
    df2 = spark.createDataFrame(
        [(2, bytearray(short))], "doc_id long, payload binary"
    )
    r2 = mm.audio_haar_bands(df2).select("haar.*").collect()[0]
    assert r2["decoder"] == "stub" and r2["n_stream_samples"] == 20


def test_connected_components_local_unionfind_matches(spark, monkeypatch):
    """The driver union-find (graphs within ``MAX_DRIVER_EDGES``) must
    land on the identical min-label fixpoint as both distributed
    variants, including self-pair singletons."""
    from hiv_data_integration_spark.operators import dedup

    def connected_components(pairs, budget, **kwargs):
        monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", budget)
        return dedup.connected_components(pairs, **kwargs)

    edges = [((i * 37) % 83 + (i % 5) * 100, (i * 59) % 83 + (i % 5) * 100)
             for i in range(120)]
    pairs = spark.createDataFrame(
        edges + [(9999, 9999)], "id_a long, id_b long"
    )
    star = {
        r.id: r.component
        for r in connected_components(pairs, -1, algorithm="star").collect()
    }
    local = {
        r.id: r.component
        for r in connected_components(
            pairs, 10_000, algorithm="star"
        ).collect()
    }
    assert local == star
    assert local[9999] == 9999
    # budget below the edge count -> distributed path (same answer)
    dist = {
        r.id: r.component
        for r in connected_components(
            pairs, 5, algorithm="star"
        ).collect()
    }
    assert dist == star
    # OUTPUT SCHEMA must be runtime-independent: with Integer ids the
    # driver union-find must hand back the input dtype, so the same
    # graph within and above the budget yields identical schemas
    int_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7)], "id_a int, id_b int"
    )
    lo = connected_components(int_pairs, 10_000)
    hi = connected_components(int_pairs, 1)
    assert lo.schema == hi.schema
    assert [f.dataType.simpleString() for f in lo.schema.fields] == [
        "int", "int"
    ]
    assert {r.id: r.component for r in lo.collect()} == {
        r.id: r.component for r in hi.collect()
    }


def test_ngram_dfcap_equals_plain_when_cap_unbinding(spark):
    """With df_cap >= corpus size the capped join must be bit-identical
    to the plain posting join (no shingle is excluded); with df_cap=1 on
    a corpus of exact duplicates it must go empty (every shared shingle
    is frequent) — the two ends of the recall dial."""
    from hiv_data_integration_spark.operators.dedup import (
        ngram_jaccard_dfcap_pairs,
        ngram_jaccard_pairs,
    )

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e g"),   # near-dup of 1
        (3, "p q r s t u"),
        (4, "p q r s t u"),   # exact dup of 3
        (5, "x y z w v k"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=2, jaccard_threshold=0.4
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_dfcap_pairs(
            df, "doc_id", "text", shingle_n=2, jaccard_threshold=0.4,
            df_cap=100,
        ).collect()
    }
    assert capped == plain and (3, 4) in plain and (1, 2) in plain
    # cap=1: docs 3/4 share only df=2 shingles -> suppressed
    tight = ngram_jaccard_dfcap_pairs(
        df, "doc_id", "text", shingle_n=2, jaccard_threshold=0.4, df_cap=1
    ).collect()
    assert tight == []


def test_gif_interlaced_deinterlaces_to_raster(spark):
    """An interlaced GIF (rows stored in the 4-pass spec order, flag
    0x40) must decode to the SAME raster stats as its non-interlaced
    twin — any off-by-one in the row remap shifts the position-weighted
    checksum."""
    import struct

    w, h = 8, 16
    rows_raster = [
        bytes((7 * x + 13 * y + 42) % 256 for x in range(w))
        for y in range(h)
    ]
    order = [
        y
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for y in range(start, h, step)
    ]
    assert sorted(order) == list(range(h)) and order != list(range(h))

    def build(interlaced):
        src = (
            [rows_raster[y] for y in order] if interlaced else rows_raster
        )
        flat = b"".join(src)
        # reuse the tested LZW encoder via _tiny_gif's convention
        g = bytearray(_tiny_gif(w, h, [(0, flat)]))
        if interlaced:
            # set the interlace bit in the image descriptor's packed
            # byte (offset: header 13 + GCT 768 + GCE 8 + 0x2C + 8)
            i = 13 + 768 + 8 + 9
            assert g[i - 9] == 0x2C
            g[i] |= 0x40
        return bytes(g)

    df = spark.createDataFrame(
        [(1, bytearray(build(False))), (2, bytearray(build(True)))],
        "doc_id long, payload binary",
    )
    out = {r["media_id"]: r for r in mm.gif_frame_stats(df).collect()}
    assert out[1]["decoder"] == out[2]["decoder"] == "gif"
    assert out[1]["pix_sum"] == out[2]["pix_sum"]
    assert out[1]["pix_checksum"] == out[2]["pix_checksum"]
    flat = b"".join(rows_raster)
    assert out[1]["pix_checksum"] == sum(
        v * (i + 1) for i, v in enumerate(flat)
    )
    struct  # silence unused in case of refactor


def test_image_dhash_gradient_bits(spark):
    """dHash on a horizontal gradient = all-ones; on a constant image =
    all-zeros (strict >). Uses real PNG byte streams."""
    import struct, zlib

    def png_gray(w, h, pix):
        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )
        raw = b"".join(
            b"\x00" + bytes(pix(x, y) for x in range(w)) for y in range(h)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    rows = [
        (1, bytearray(png_gray(16, 8, lambda x, y: x * 10))),   # rising
        (2, bytearray(png_gray(16, 8, lambda x, y: 100))),      # flat
        (3, None),                                               # stub
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r["dhash"] for r in mm.image_dhash(df).collect()}
    assert out[1]["phash_hi"] == out[1]["phash_lo"] == 0xFFFFFFFF
    assert out[2]["phash_hi"] == out[2]["phash_lo"] == 0
    assert out[3]["decoder"] == "stub"


def test_audio_decimate_floor_semantics(spark):
    """Pair floor-mean must FLOOR (not truncate toward zero) on negative
    sums — the cross-engine division trap the oracle pins."""
    import struct

    samples = [-3, -4, 5, 6, -1, 2, 7]  # pairs: (-7)//2=-4, 11//2=5, 1//2=0; trailing 7 dropped
    body = struct.pack("<%dh" % len(samples), *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 8 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(body)) + body
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav))], "doc_id long, payload binary"
    )
    r = mm.audio_decimate_stats(df).select("decimated.*").collect()[0]
    assert r["decoder"] == "wav"
    assert r["n_stream_samples"] == 7 and r["n_out_samples"] == 3
    assert r["sum_out"] == (-4) + 5 + 0
    assert r["checksum_out"] == (-4) * 1 + 5 * 2 + 0 * 3


def test_python_datasource_plain_and_pushdown_tiers_agree(spark):
    """The custom Python data source must return identical results on
    its plain tier (driver-style sessions without
    spark.sql.python.filterPushdown.enabled — Spark refuses a reader
    that merely DEFINES pushFilters there) and its pushdown tier
    (bounds consumed at the source by narrowing partition ranges)."""
    from hiv_data_integration_spark.battery_ext import q_python_datasource

    df = q_python_datasource(spark, "/root/testdata/sf0.001")
    rows = {
        r["bucket"]: (r["n_rows"], r["min_id"], r["max_id"])
        for r in df.collect()
    }
    assert len(rows) == 7
    assert sum(n for n, _, _ in rows.values()) == 180_000 - 12_345
    # derivation: ids 12345..179999; bucket b count = #{i : i % 7 == b}
    assert rows[12_345 % 7][1] == 12_345  # min id lands in its bucket

    # both tiers, same bounded read (the entry registered the source)
    for tier in ("false", "true"):
        bounded = (
            spark.read.format("graft_seq")
            .option("n", 1000)
            .option("parts", 4)
            .option("pushdown", tier)
            .load()
            .filter("id >= 900 and id < 950")
        )
        assert bounded.count() == 50, tier
        assert bounded.agg({"val": "sum"}).collect()[0][0] == sum(
            (i * 2654435761) % 1000 for i in range(900, 950)
        ), tier

    # a FULLY-PRUNING predicate must return an empty frame, not crash:
    # with pushdown on, `id >= n` collapses the range to lo == hi and
    # partitions() must emit one empty partition (PySpark substitutes
    # [None] for an empty list and read(None) dies on partition.start)
    for tier in ("false", "true"):
        pruned = (
            spark.read.format("graft_seq")
            .option("n", 1000)
            .option("parts", 4)
            .option("pushdown", tier)
            .load()
            .filter("id >= 1000")
        )
        assert pruned.count() == 0, tier
        assert pruned.schema.fieldNames() == ["id", "bucket", "val"], tier


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=2, max_value=8).flatmap(
        lambda mcs: st.tuples(
            st.just(mcs),
            st.lists(
                st.integers(min_value=0, max_value=(1 << mcs) - 1),
                min_size=1,
                max_size=800,
            ),
        )
    )
)
def test_gif_lzw_round_trip_property(mcs_and_indices):
    """Property: decode(encode(x)) == x for any alphabet size 2^2..2^8
    and any index stream — the encoder and decoder share the GIF
    variable-width convention (validated against the published sample
    in test_gif_decoder_flickinger_sample, so this is conformance
    transport, not mutual-delusion insurance alone)."""
    import struct

    from hiv_data_integration_spark.operators.multimodal import (
        _make_gif_decoder,
    )

    mcs, idx_list = mcs_and_indices
    indices = bytes(idx_list)
    # wrap in a minimal container with an identity palette sized exactly
    # to the alphabet (GCT size field: 2^(field+1) = 2^mcs entries),
    # dims (len, 1) so expect == len(indices)
    w, h = len(indices), 1
    pal_bits = mcs - 1
    n_pal = 1 << mcs
    buf = bytearray(b"GIF89a")
    buf += struct.pack("<HHBBB", w, h, 0x80 | pal_bits, 0, 0)
    for i in range(n_pal):
        buf += bytes((i, i, i))
    buf += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    buf.append(mcs)
    data = _lzw_encode_for_tests(indices, mcs)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        buf.append(len(chunk))
        buf += chunk
    buf.append(0)
    buf += b"\x3b"
    res = _make_gif_decoder()(bytes(buf))
    assert res is not None
    _w, _h, frames = res
    assert len(frames) == 1
    # identity palette: decoded luma equals the index stream exactly
    assert frames[0][3] == indices


def _lzw_encode_for_tests(indices: bytes, mcs: int) -> bytes:
    """The same GIF LZW encoder convention the battery synthesis uses."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out, cur, curbits = bytearray(), 0, 0
    code_size = mcs + 1

    def emit(code):
        nonlocal cur, curbits
        cur |= code << curbits
        curbits += code_size
        while curbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            curbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    prev = b""
    for b in indices:
        cand = prev + bytes([b])
        if cand in table:
            prev = cand
            continue
        emit(table[prev])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code >= 4000:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = mcs + 1
        prev = bytes([b])
    if prev:
        emit(table[prev])
    emit(eoi)
    if curbits:
        out.append(cur & 0xFF)
    return bytes(out)


def test_audio_frame_rows_lattice_and_stub(spark):
    """audio_frame_rows: energies match a NumPy recomputation of the
    400/160 window-hop lattice on a hand-built WAV; sub-window clips
    emit no rows; junk payloads emit the labeled stub row."""
    import struct

    import numpy as np

    from hiv_data_integration_spark.operators.multimodal import (
        audio_frame_rows,
    )

    def wav(samples):
        body = struct.pack("<%dh" % len(samples), *samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(body)) + body
        if len(body) % 2:
            chunks += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    long_s = [((i * 37) % 1201) - 600 for i in range(1000)]  # 4 frames
    df = spark.createDataFrame(
        [
            (1, bytearray(wav(long_s))),
            (2, bytearray(wav([5] * 399))),  # < one window -> no rows
            (3, bytearray(b"nonsense")),  # stub
        ],
        "doc_id long, payload binary",
    )
    rows = audio_frame_rows(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    arr = np.array(long_s, dtype=np.int64)
    expect = [int((arr[f * 160: f * 160 + 400] ** 2).sum()) for f in range(4)]
    got = sorted(by_doc[1], key=lambda r: r.frame_idx)
    assert [r.energy for r in got] == expect
    assert all(r.n_frames == 4 and r.decoder == "wav" for r in got)
    assert 2 not in by_doc  # sub-window clip emits nothing
    (stub,) = by_doc[3]
    assert stub.decoder == "stub" and stub.frame_idx == -1


def test_ngram_prefix_guard_mass_is_exact(spark):
    """The stage-2 guard probe must equal the EXACT pre-dedup row count
    of the a-prefix × b-full candidate join it is protecting against —
    pinned by rebuilding that join by hand on a degenerate corpus that
    forces stage 2."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hiv_data_integration_spark.operators.dedup import (
        _ngram_postings,
        ngram_jaccard_prefix_pairs,
    )

    degen = spark.createDataFrame(
        [(i, "aaa bbb ccc ddd eee") for i in range(30)]
        + [(100 + i, f"unique{i} token{i} word{i} tail{i}") for i in range(5)],
        "doc_id long, text string",
    )
    rep: dict = {}
    ngram_jaccard_prefix_pairs(
        degen, "doc_id", "text", 3, 0.5,
        guard_candidate_factor=2.0, guard_report=rep,
    )
    assert rep["stage"] == 2
    # rebuild the prefix set and the candidate join row count by hand
    posting, doc_sizes = _ngram_postings(degen, "doc_id", "text", 3, [], None)
    dfreq = posting.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = (
        posting.join(dfreq, "shingle")
        .withColumn(
            "_rnk",
            F.row_number().over(
                Window.partitionBy("doc_id_").orderBy("_df", "shingle")
            ),
        )
        .join(doc_sizes, "doc_id_")
    )
    prefix = ranked.filter(
        F.col("_rnk") <= F.col("n_sh") - F.ceil(0.5 * F.col("n_sh")) + 1
    )
    manual = (
        prefix.select("shingle", F.col("doc_id_").alias("id_a"))
        .join(posting.select("shingle", F.col("doc_id_").alias("id_b")),
              "shingle")
        .count()
    )
    assert rep["candidate_mass"] == manual


def test_audio_frame_rows_consistent_with_census(spark):
    """audio_frame_rows and audio_frame_energy must be two views of the
    SAME lattice: per-doc frame counts match, row energies sum to
    nothing the census doesn't know (peak row == census peak)."""
    from pyspark.sql import functions as F

    from hiv_data_integration_spark.battery_ext import _wav_payloads
    from hiv_data_integration_spark.operators.multimodal import (
        audio_frame_energy,
        audio_frame_rows,
    )

    payloads = _wav_payloads(spark, "/root/testdata/sf0.001").limit(40)
    census = {
        r.doc_id: r.energy
        for r in audio_frame_energy(payloads).collect()
    }
    rows = audio_frame_rows(payloads).filter(F.col("frame_idx") >= 0)
    agg = {
        r.doc_id: r
        for r in rows.groupBy("doc_id").agg(
            F.max("n_frames").alias("nf"),
            F.count("*").alias("n_rows"),
            F.max("energy").alias("peak_e"),
        ).collect()
    }
    checked = 0
    for doc_id, e in census.items():
        if e.n_frames == 0:
            assert doc_id not in agg  # sub-window clips emit no rows
            continue
        a = agg[doc_id]
        assert a.nf == e.n_frames == a.n_rows
        assert a.peak_e == e.peak_energy
        checked += 1
    assert checked > 10


def test_payload_caches_evict_dead_sessions(spark):
    """The per-session payload caches (_PHASH_CACHE/_GIF_CACHE/_WAV_CACHE,
    keyed by applicationId) must not accumulate entries across session
    recreation in one driver process: populating under the live appId
    evicts every key owned by a dead one (its localCheckpoint blocks are
    unreachable once the owning context stops)."""
    from hiv_data_integration_spark import battery_ext as bx

    sf = "/root/testdata/sf0.001"
    live = spark.sparkContext.applicationId
    # simulate a prior session's leftovers (values never dereferenced
    # by the eviction path, so a sentinel is fine)
    bx._PHASH_CACHE[("dead-app-1", sf, "png")] = "stale"
    bx._GIF_CACHE[("dead-app-2", sf, False)] = "stale"
    bx._WAV_CACHE[("dead-app-3", sf)] = "stale"
    bx._png_payloads(spark, sf)
    bx._gif_payloads(spark, sf)
    bx._wav_payloads(spark, sf)
    for cache in (bx._PHASH_CACHE, bx._GIF_CACHE, bx._WAV_CACHE):
        assert all(k[0] == live for k in cache), cache.keys()
    # the live entries themselves survive (cache hit, same object)
    assert bx._png_payloads(spark, sf) is bx._PHASH_CACHE[(live, sf, "png")]


def test_pivot_agg_inferred_values_guard(spark):
    """pivot_agg enforces the declared-values discipline (SCALE.md §8):
    omitting `values` on a high-cardinality pivot column raises with a
    remedy instead of inferring a data-dependent driver-sized schema;
    low-cardinality inference still works and matches declared values."""
    import pytest as _pytest

    from hiv_data_integration_spark.operators.aggregate import pivot_agg

    wide_col = spark.range(500).select(
        F.lit(1).alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("p"),
        F.col("id").alias("x"),
    )
    with _pytest.raises(ValueError, match="declared `values` list"):
        pivot_agg(wide_col, ["k"], "p", "x", max_inferred_values=100)
    # explicit values bypass the probe entirely (no extra job, any width)
    ok = pivot_agg(wide_col, ["k"], "p", "x", values=["v1", "v2"])
    assert ok.columns == ["k", "v1", "v2"]
    # low-cardinality inference stays allowed and agrees with declared
    small = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 5)], "k long, p string, x long"
    )
    inferred = pivot_agg(small, ["k"], "p", "x")
    declared = pivot_agg(small, ["k"], "p", "x", values=["a", "b"])
    assert sorted(map(tuple, inferred.collect())) == sorted(
        map(tuple, declared.collect())
    )


def test_phash_kernelized_pairs_match_bruteforce(spark, caplog):
    """The r12 kernelization of multimodal_phash_near_pairs (LSH over
    exact-hash classes + expansion) must emit exactly the pairs the
    per-document banded join would: brute-force verification on a
    synthetic mass-duplicate corpus injected through the session cache.
    Also pins the mass-duplication warning, the class_pairs lossless
    multiplicity contract, and the cluster census on the same corpus."""
    import itertools
    import logging

    from hiv_data_integration_spark import battery_ext as bx

    H1 = (0x12345678, 0x9ABCDEF0)
    H2 = (0x12345678, 0x9ABCDEF3)   # flips 2 bits in band 3: hamming 2
    HC = (0x0001000A, 0x000B000C)   # no band value shared with H1/H2
    docs = [(i, *H1) for i in range(30)]            # mass-dup class
    docs += [(100 + i, *H2) for i in range(5)]
    docs += [(200, *HC), (201, *HC)]
    hashed = spark.createDataFrame(
        [(d, 8, 8, hi, lo, "png") for d, hi, lo in docs],
        "doc_id long, width int, height int, phash_hi long, "
        "phash_lo long, decoder string",
    ).localCheckpoint()
    SD = "/synthetic-phash-test"
    app = spark.sparkContext.applicationId
    bx._PHASH_CACHE[(app, SD, "ahash")] = hashed
    try:
        with caplog.at_level(
            logging.WARNING, logger="hiv_data_integration_spark.battery_ext"
        ):
            got = {
                (r.doc_a, r.doc_b, r.hamming)
                for r in bx.q_phash_near_pairs(spark, SD).collect()
            }
        # brute force: pair iff sharing any 16-bit band AND hamming <= 4
        def bands(hi, lo):
            return [(0, hi >> 16), (1, hi & 0xFFFF),
                    (2, lo >> 16), (3, lo & 0xFFFF)]
        expect = set()
        for (a, ha, la), (b, hb, lb) in itertools.combinations(docs, 2):
            if set(bands(ha, la)) & set(bands(hb, lb)):
                ham = bin(ha ^ hb).count("1") + bin(la ^ lb).count("1")
                if ham <= 4:
                    expect.add((min(a, b), max(a, b), ham))
        assert got == expect and len(got) == 435 + 10 + 150 + 1
        # 30-member class: 435 within pairs > 8x 37 docs -> loud
        assert any(
            "quadratic-dominated" in r.getMessage() for r in caplog.records
        )
        # class-pairs successor: kernel-sized output, lossless multiplicity
        cp = bx.q_phash_class_pairs(spark, SD).collect()
        assert len(cp) == 4  # (H1,H2) cross + three within rows
        assert sum(r.n_pairs for r in cp) == len(expect)
        by_pair = {(r.rep_a, r.rep_b): (r.hamming, r.n_pairs) for r in cp}
        assert by_pair[(0, 100)] == (2, 150)
        assert by_pair[(0, 0)] == (0, 435)
        assert by_pair[(100, 100)] == (0, 10)
        assert by_pair[(200, 200)] == (0, 1)
        # cluster census: A∪B one component of 35, C a component of 2
        cl = {
            r.component: r.n_members
            for r in bx.q_phash_clusters(spark, SD).collect()
        }
        assert cl == {0: 35, 200: 2}
    finally:
        for k in list(bx._PHASH_CACHE):
            if k[1] == SD:
                del bx._PHASH_CACHE[k]
        bx._PHASH_MASS_CACHE.pop((app, SD), None)


def test_warc_parse_validates_length_and_roundtrip(spark):
    """The WARC parser must recover every synthesized record, flag
    exactly the deliberately corrupted Content-Length rows (doc_id % 11
    == 0), and payload-roundtrip every record against the corpus."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    out = bx.q_warc_record_parse(spark, SD).collect()
    n_docs = spark.read.parquet(f"{SD}/documents.parquet").count()
    assert len(out) == n_docs
    assert all(r.roundtrip_ok for r in out)
    bad = {int(r.uri.rsplit("/", 1)[1]) for r in out if not r.length_ok}
    assert bad == {i for i in range(n_docs) if i % 11 == 0}
    ok = next(r for r in out if r.length_ok)
    assert ok.payload_len == ok.declared_len
    corrupt = next(r for r in out if not r.length_ok)
    assert corrupt.declared_len == corrupt.payload_len + 3
    # header fields parsed, not defaulted
    assert all(r.warc_type in ("response", "metadata") for r in out)
    assert all(r.uri.startswith("https://host-") for r in out)
    # record order inside each shard is doc order: positions are 1..k
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r.rec_pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_html_extract_strips_blocks_and_counts_links(spark):
    """Script/style/comment CONTENTS must vanish from the visible text
    (not just the tags), and the link census must see through to every
    href including the conditional second anchor."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    rows = bx.q_html_text_extract(spark, SD).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SD}/documents.parquet").collect()
    }
    assert len(rows) == len(docs)
    for r in rows:
        assert r.title == f"Doc {r.doc_id}"
        assert r.n_links == (2 if r.doc_id % 3 == 0 else 1)
        assert "var x" not in r.visible_prefix
        assert "color" not in r.visible_prefix
        assert "crawler:" not in r.visible_prefix
        # visible text is headline + paragraph + anchor labels
        assert r.visible_prefix.startswith(f"Doc {r.doc_id} ")
    # full-text check on one row: exact expected visible string
    r0 = next(r for r in rows if r.doc_id == 1)
    expect = f"Doc 1 Doc 1 {docs[1][:100].strip()} next"
    import re as _re

    expect = _re.sub(" +", " ", expect)
    assert r0.text_len == len(expect)
    assert expect.startswith(r0.visible_prefix.rstrip())


def test_robots_longest_prefix_beats_first_match(spark):
    """/private/pub/... must be ALLOWED (the longer allow prefix wins
    over the /private block), host-specific rules must apply only to
    their host, and the per-host census must match a closed-form
    recomputation."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    n_docs = spark.read.parquet(f"{SD}/documents.parquet").count()

    def decide(doc_id: int) -> tuple[str, str, bool]:
        host = f"host-{doc_id % 5}.example"
        tail = str(doc_id % 40)
        path = {
            0: f"/articles/{tail}",
            1: f"/private/data/{tail}",
            2: f"/private/pub/notes/{tail}",
            3: f"/tmp/cache/{tail}",
            4: "/",
            5: f"/articles/archive/{tail}",
        }[doc_id % 6]
        rules = [
            (1, "*", "/", True),
            (2, "*", "/private", False),
            (3, "*", "/private/pub", True),
            (4, "*", "/tmp", False),
            (5, "host-0.example", "/articles/archive", False),
            (6, "host-1.example", "/articles", False),
        ]
        hits = [
            (len(p), allow, rid)
            for rid, hp, p, allow in rules
            if hp in ("*", host) and path.startswith(p)
        ]
        hits.sort(key=lambda t: (-t[0], not t[1], t[2]))
        return host, path, hits[0][1]

    expect: dict[str, list[tuple[str, bool]]] = {}
    for i in range(n_docs):
        host, path, allow = decide(i)
        expect.setdefault(host, []).append((path, allow))
    out = {r.host: r for r in bx.q_robots_prefix_filter(spark, SD).collect()}
    assert set(out) == set(expect)
    for host, pairs in expect.items():
        blocked = sorted(p for p, a in pairs if not a)
        r = out[host]
        assert r.n_urls == len(pairs)
        assert r.n_allowed == sum(1 for _, a in pairs if a)
        assert r.n_blocked == len(blocked)
        assert r.min_blocked_path == (blocked[0] if blocked else None)
        assert r.max_blocked_path == (blocked[-1] if blocked else None)
    # the spec-critical routings, asserted explicitly:
    samples = {decide(i)[1]: decide(i)[2] for i in range(min(n_docs, 120))}
    assert samples.get("/private/pub/notes/2", True) is True
    assert any(p.startswith("/private/data/") and not a
               for p, a in samples.items())


def test_quality_linear_margin_matches_reference_hash(spark):
    """The hashed-feature margin must equal an independent Python
    recomputation of md5-bucket -> Knuth-mix weight, token for token."""
    import hashlib as _hl

    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    out = {r.doc_id: r for r in
           bx.q_quality_linear_classifier(spark, SD).collect()}
    docs = spark.read.parquet(f"{SD}/documents.parquet").collect()
    for d in docs[:25]:
        toks = [t for t in d.text.split(" ") if t]
        ws = []
        for t in toks:
            b = int(_hl.md5(f"ql:{t}".encode()).hexdigest()[:13], 16) % 4096
            ws.append(b * 2654435761 % 1001 - 500)
        r = out[d.doc_id]
        assert r.n_tokens == len(toks)
        assert r.margin_sum == sum(ws)
        assert r.accept == (sum(ws) > 0)


def test_frontier_schedule_politeness_and_priority(spark):
    """Each host's fetch count must equal its URL count, and the
    earliest windows must be saturated with the highest priority class
    (priority-2 URLs are scheduled first within a host)."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    rows = bx.q_crawl_frontier_schedule(spark, SD).collect()
    n_docs = spark.read.parquet(f"{SD}/documents.parquet").count()
    per_host: dict[int, int] = {}
    for r in rows:
        per_host[r.host_idx] = per_host.get(r.host_idx, 0) + r.n_fetches
    assert sum(per_host.values()) == n_docs
    for h in range(5):
        assert per_host[h] == len([i for i in range(n_docs) if i % 5 == h])
        hr = sorted(
            (r for r in rows if r.host_idx == h), key=lambda r: r.window_s
        )
        # first scheduled window is window 0 and all-high-priority
        assert hr[0].window_s == 0
        assert hr[0].n_high_priority == hr[0].n_fetches
        # once a window contains non-high fetches, no later window may
        # be all-high again (priority-ordered queue)
        seen_low = False
        for r in hr:
            if r.n_high_priority < r.n_fetches:
                seen_low = True
            elif seen_low and r.n_fetches > 0:
                assert r.n_high_priority == 0 or not seen_low


def test_pld_extraction_publicsuffix_cases(spark):
    """Multi-part public suffixes must keep suffix+1 label, deep
    subdomains must collapse to the registered domain, and the quota
    census must account for every document."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    rows = {r.pld: r for r in bx.q_url_pld_quota(spark, SD).collect()}
    n_docs = spark.read.parquet(f"{SD}/documents.parquet").count()
    # shapes 1 ('siteX.news.co.uk') and 6 ('deep.siteX.news.co.uk') BOTH
    # collapse to the registered domain news.co.uk (suffix co.uk + one
    # label) — the multi-part suffix keeps 'news', not 'siteX'.  Only
    # the gov.uk shape keeps its site label, because there gov.uk IS
    # the suffix and siteX is the registrant.
    assert "news.co.uk" in rows
    n_docs_mod7 = [i % 7 for i in range(n_docs)]
    assert rows["news.co.uk"].n_total == (
        n_docs_mod7.count(1) + n_docs_mod7.count(6)
    )
    assert "example.com" in rows          # shapes 0 (3 labels) + 5 (4)
    assert rows["example.com"].n_total == (
        n_docs_mod7.count(0) + n_docs_mod7.count(5)
    )
    assert "archive.org" in rows          # bare registered domain
    assert any(p.endswith(".gov.uk") and p.count(".") == 2 for p in rows)
    assert not any(p.count(".") == 3 for p in rows)
    assert sum(r.n_total for r in rows.values()) == n_docs
    for r in rows.values():
        assert r.n_kept == min(r.n_total, 10)
        assert r.n_kept + r.n_dropped == r.n_total


def test_streaming_warc_census_equals_closed_form(spark):
    """The streamed parse census must equal independent arithmetic over
    the source corpus (never touching the parser)."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    got = {
        (r.warc_type, r.length_ok): (r.n_records, r.total_payload)
        for r in bx.q_streaming_warc_ingest(spark, SD).collect()
    }
    docs = spark.read.parquet(f"{SD}/documents.parquet").collect()
    expect: dict[tuple[str, bool], list[int]] = {}
    for d in docs:
        wt = "metadata" if d.doc_id % 7 == 0 else "response"
        plen = min(d.n_chars, 80)
        ok = d.doc_id % 11 != 0
        k = (wt, ok)
        expect.setdefault(k, [0, 0])
        expect[k][0] += 1
        expect[k][1] += plen
    assert got == {k: tuple(v) for k, v in expect.items()}


def test_record_linkage_fs_matches_bruteforce(spark):
    """Per-nation pair and link counts must equal an exact quadratic
    recomputation of the Fellegi-Sunter scores for one block."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    out = {r.nation: r for r in bx.q_record_linkage_fs(spark, SD).collect()}
    import math as _m

    cust = spark.read.parquet(f"{SD}/customer.parquet").collect()
    by_nation: dict[int, list] = {}
    for c in cust:
        by_nation.setdefault(c.c_nationkey, []).append(c)
    for nation in list(by_nation)[:3]:
        rows = sorted(by_nation[nation], key=lambda c: c.c_custkey)
        scores = []
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i], rows[j]
                s = 24 if a.c_mktsegment == b.c_mktsegment else -8
                s += (
                    13
                    if _m.floor(a.c_acctbal / 1000)
                    == _m.floor(b.c_acctbal / 1000)
                    else -5
                )
                s += 31 if a.c_name[-2:] == b.c_name[-2:] else -11
                scores.append(s)
        r = out[nation]
        assert r.n_pairs == len(scores)
        assert r.n_links == sum(1 for s in scores if s >= 30)
        assert r.min_score == min(scores)
        assert r.max_score == max(scores)
        assert r.score_mass == sum(scores)


def test_hostgraph_ring_and_hub_structure(spark):
    """The host graph must be the successor ring (every host links only
    to the next host plus the citation hub), with page counts equal to
    link counts (one next-link per page)."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    rows = bx.q_crawl_link_hostgraph(spark, SD).collect()
    n_docs = spark.read.parquet(f"{SD}/documents.parquet").count()
    ring = {(r.src_host, r.dst_host): r for r in rows}
    assert sum(r.n_links for r in rows) == n_docs + sum(
        1 for i in range(n_docs) if i % 3 == 0
    )
    for h in range(5):
        src = f"host-{h}.example"
        nxt = f"host-{(h + 1) % 5}.example"
        r = ring[(src, nxt)]
        assert r.n_links == r.n_pages  # one next-link per page
        assert r.n_self == 0
        dsts = {d for (s, d) in ring if s == src}
        assert dsts <= {nxt, "ref.example"}


def test_capped_linkage_bounds_pairs_and_accounts_drops(spark):
    """Pairs per nation must be bounded by cap*(cap-1)/2, dropped rows
    must equal block_size - cap, and on blocks under the cap the
    census must equal the uncapped entry's."""
    from hiv_data_integration_spark import battery_ext as bx

    SD = "/root/testdata/sf0.001"
    capped = {r.nation: r for r in
              bx.q_record_linkage_fs_capped(spark, SD).collect()}
    full = {r.nation: r for r in
            bx.q_record_linkage_fs(spark, SD).collect()}
    cust = spark.read.parquet(f"{SD}/customer.parquet").collect()
    sizes: dict[int, int] = {}
    for c in cust:
        sizes[c.c_nationkey] = sizes.get(c.c_nationkey, 0) + 1
    assert set(capped) == set(sizes)
    for nation, n in sizes.items():
        r = capped[nation]
        assert r.n_pairs <= 50 * 49 // 2
        assert r.n_dropped == max(0, n - 50)
        if n <= 50:
            assert r.n_pairs == full[nation].n_pairs
            assert r.n_links == full[nation].n_links
    # sf0.001 blocks are all under the cap (the equality branch above
    # ran); prove the cap actually bites at sf0.01, where blocks hold
    # ~60 customers each
    c01 = bx.q_record_linkage_fs_capped(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert all(r.n_pairs <= 50 * 49 // 2 for r in c01)
    assert any(r.n_dropped > 0 for r in c01)


def test_array_verify_partitions_identical_rows(spark):
    """_array_verify(partitions=N) must change ONLY the plan (a
    round-robin fan-out before the shingle-array build), never the
    verified pair set — the r12 fix for the 1-split documents scan
    single-threading the verify."""
    from hiv_data_integration_spark.operators.dedup import _array_verify

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + ("x" * (i % 3)))
         for i in range(40)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(i, j) for i in range(0, 39) for j in (i + 1, i + 2) if j < 40],
        "id_a long, id_b long",
    )
    plain = _array_verify(cand, docs, "doc_id", "text", 3, 0.5)
    spread = _array_verify(cand, docs, "doc_id", "text", 3, 0.5, partitions=7)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, spread.collect())
    )
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()


def test_spread_fans_out_narrow_scan_only(spark):
    """_spread repartitions a below-parallelism frame to
    defaultParallelism and leaves an already-wide frame untouched."""
    from hiv_data_integration_spark.battery_ext import _spread

    n = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    wide = spark.range(100).repartition(n + 1)
    assert _spread(narrow).rdd.getNumPartitions() == n
    # identity for frames already at/over parallelism (no extra exchange)
    assert _spread(wide) is wide
    assert sorted(r.id for r in _spread(narrow).collect()) == list(range(100))
