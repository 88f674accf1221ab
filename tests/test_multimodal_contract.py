"""Behaviour pins for the multimodal decode stages.

``test_wav_ops_pinned`` and ``test_png_ops_pinned`` run one table of
crafted payloads through every WAV op and every PNG op and compare each
op's stub-or-decode result and key fields against a recorded table. The
cases sit where the ops' acceptance rules differ (non-PCM format tags,
bit depths, short or truncated chunks, unsupported PNG surfaces), so a
change to any op's accept-or-stub decision fails here.

``test_stages_run_without_this_package`` pickles every ``mapInPandas``
stage function and runs it in a fresh interpreter that cannot import
this package, as the workers of a session this package did not build.
"""

from __future__ import annotations

import struct
import zlib

from hiv_data_integration_spark.operators import multimodal as mm

# -- payload builders ---------------------------------------------------------


def _pcm16(n: int) -> bytes:
    return struct.pack("<%dh" % n, *(((i * 37) % 3000) - 1500 for i in range(n)))


def _fmt(tag: int, ch: int, sr: int, ba: int, bits: int, size: int = 16) -> bytes:
    body = struct.pack("<HHIIHH", tag, ch, sr, sr * ba, ba, bits) + bytes(size - 16)
    return b"fmt " + struct.pack("<I", size) + body


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


def _riff(*chunks: bytes) -> bytes:
    c = b"".join(chunks)
    return b"RIFF" + struct.pack("<I", 4 + len(c)) + b"WAVE" + c


_DATA = _chunk(b"data", _pcm16(560))

WAV_CASES = {
    "pcm16": _riff(_fmt(1, 1, 8000, 2, 16), _DATA),
    "extensible16": _riff(_fmt(0xFFFE, 1, 8000, 2, 16, size=40), _DATA),
    "pcm24": _riff(
        _fmt(1, 1, 8000, 3, 24),
        _chunk(b"data", bytes((i * 7) % 256 for i in range(600))),
    ),
    "nonpcm_then_pcm": _riff(_fmt(3, 1, 8000, 4, 32), _fmt(1, 1, 8000, 2, 16), _DATA),
    # declares 4000 data bytes, carries 1000
    "short_data": _riff(
        _fmt(1, 1, 8000, 2, 16), b"data" + struct.pack("<I", 4000) + _pcm16(500)
    ),
    # a 14-byte WAVEFORMAT: no bits-per-sample field
    "fmt_14_bytes": _riff(
        b"fmt " + struct.pack("<IHHIIH", 14, 1, 1, 8000, 16000, 2), _DATA
    ),
    # a trailing fmt chunk that declares 16 bytes and is cut by end of file
    "fmt_cut_at_eof": _riff(
        _fmt(1, 1, 8000, 2, 16), _DATA, b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
    ),
    "odd_list": _riff(_chunk(b"LIST", b"INFOxyz"), _fmt(1, 2, 12000, 4, 16), _DATA),
    "zero_block_align": _riff(_fmt(1, 1, 8000, 0, 16), _DATA),
    "junk": b"not a wav payload at all",
    "none": None,
}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _png(w: int, h: int, depth: int, ctype: int, raw: bytes, idat: bytes | None = None) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw) if idat is None else idat)
        + _png_chunk(b"IEND", b"")
    )


def _gray_raw(w: int, h: int, filters: bytes = b"") -> bytes:
    return b"".join(
        (filters[y : y + 1] or b"\x00")
        + bytes((5 * x + 11 * y + 3) % 256 for x in range(w))
        for y in range(h)
    )


PNG_CASES = {
    "gray16x8": _png(16, 8, 8, 0, _gray_raw(16, 8)),
    "gray8x16_gradient": _png(
        8, 16, 8, 0,
        b"".join(b"\x00" + bytes((x * x * 3 + y) % 256 for x in range(8)) for y in range(16)),
    ),
    "rgb8x8": _png(8, 8, 8, 2, b"".join(b"\x00" + bytes(range(y, y + 24)) for y in range(8))),
    "filter1": _png(8, 8, 8, 0, _gray_raw(8, 8, filters=b"\x01")),
    "gray12x8": _png(12, 8, 8, 0, _gray_raw(12, 8)),
    "gray16bit": _png(8, 8, 16, 0, b"".join(b"\x00" + bytes(16) for _ in range(8))),
    "bad_color_type": _png(8, 8, 8, 5, _gray_raw(8, 8)),
    "corrupt_idat": _png(16, 8, 8, 0, b"", idat=b"\x78\x9c not a deflate stream"),
    "junk": b"\x89PNG junk that is not a png",
    "none": None,
}


def _frame(spark, cases):
    rows = [
        (i, None if p is None else bytearray(p)) for i, p in enumerate(cases.values())
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _by_name(cases, out, key=lambda r: r["doc_id"]):
    names = list(cases)
    return {names[key(r)]: r for r in out}


def _pinned(spark, cases, ops):
    """{case: {op: key-field tuple}} for every case and op."""
    df = _frame(spark, cases)
    got = {name: {} for name in cases}
    for op, (run, fields) in ops.items():
        for name, r in _by_name(cases, run(df).collect()).items():
            got[name][op] = tuple(r[1][f] for f in fields)
    return got


def _frame_rows(spark, cases):
    """audio_frame_rows per case: (decoder, n_rows, sum of energies,
    last frame_idx), or None for a clip that emits no row."""
    out = mm.audio_frame_rows(_frame(spark, cases)).collect()
    names = list(cases)
    got = {name: None for name in cases}
    for r in out:
        name = names[r["doc_id"]]
        d, n, e, last = got[name] or (r["decoder"], 0, 0, -2)
        got[name] = (d, n + 1, e + r["energy"], max(last, r["frame_idx"]))
    return got


# Recorded per case: decoder first, then the op's key fields.
#   energy: n_stream_samples, n_frames, total_energy, peak_frame, peak_energy
#   rows:   n_rows, sum of energies, last frame_idx
#   audio:  sample_rate, channels, bits_per_sample, n_samples, duration_micros, n_bytes
#   haar:   n_stream_samples, approx_sq, band_1, band_6
#   decim:  n_stream_samples, n_out_samples, sum_out, checksum_out
WAV_PINNED = {
    "pcm16": {
        "energy": ("wav", 560, 2, 412015240, 1, 294858600),
        "audio": ("wav", 8000, 1, 16, 560, 70000, 1164),
        "haar": ("wav", 560, 458302464, 43808, 1435500544),
        "decim": ("wav", 560, 280, -4020, 1507380),
        "rows": ("wav", 2, 588603200, 1),
    },
    "extensible16": {
        "energy": ("stub", 0, 0, 0, None, None),
        "audio": ("stub", 16000, 1, 16, 594, 37125, 1188),
        "haar": ("wav", 560, 458302464, 43808, 1435500544),
        "decim": ("wav", 560, 280, -4020, 1507380),
        "rows": ("stub", 1, 0, -1),
    },
    "pcm24": {
        "energy": ("stub", 0, 0, 0, None, None),
        "audio": ("wav", 8000, 1, 24, 200, 25000, 644),
        "haar": ("stub", 0, 0, 0, 0),
        "decim": ("stub", 0, 0, 0, 0),
        "rows": ("stub", 1, 0, -1),
    },
    "nonpcm_then_pcm": {
        "energy": ("stub", 0, 0, 0, None, None),
        "audio": ("stub", 16000, 1, 16, 594, 37125, 1188),
        "haar": ("wav", 560, 458302464, 43808, 1435500544),
        "decim": ("wav", 560, 280, -4020, 1507380),
        "rows": ("stub", 1, 0, -1),
    },
    "short_data": {
        "energy": ("wav", 500, 1, 386877750, 0, 293744600),
        "audio": ("wav", 8000, 1, 16, 2000, 250000, 1044),
        "haar": ("wav", 500, 458302464, 43808, 1435500544),
        "decim": ("wav", 500, 250, -6750, 616250),
        "rows": ("wav", 1, 293744600, 0),
    },
    "fmt_14_bytes": {
        "energy": ("stub", 0, 0, 0, None, None),
        "audio": ("stub", 16000, 1, 16, 581, 36312, 1162),
        "haar": ("stub", 0, 0, 0, 0),
        "decim": ("stub", 0, 0, 0, 0),
        "rows": ("stub", 1, 0, -1),
    },
    "fmt_cut_at_eof": {
        "energy": ("wav", 560, 2, 412015240, 1, 294858600),
        "audio": ("wav", 8000, 1, 16, 560, 70000, 1176),
        "haar": ("stub", 0, 0, 0, 0),
        "decim": ("stub", 0, 0, 0, 0),
        "rows": ("wav", 2, 588603200, 1),
    },
    "odd_list": {
        "energy": ("wav", 560, 2, 412015240, 1, 294858600),
        "audio": ("wav", 12000, 2, 16, 280, 23333, 1180),
        "haar": ("wav", 560, 458302464, 43808, 1435500544),
        "decim": ("wav", 560, 280, -4020, 1507380),
        "rows": ("wav", 2, 588603200, 1),
    },
    "zero_block_align": {
        "energy": ("wav", 560, 2, 412015240, 1, 294858600),
        "audio": ("stub", 16000, 1, 16, 582, 36375, 1164),
        "haar": ("wav", 560, 458302464, 43808, 1435500544),
        "decim": ("wav", 560, 280, -4020, 1507380),
        "rows": ("wav", 2, 588603200, 1),
    },
    "junk": {
        "energy": ("stub", 0, 0, 0, None, None),
        "audio": ("stub", 16000, 1, 16, 12, 750, 24),
        "haar": ("stub", 0, 0, 0, 0),
        "decim": ("stub", 0, 0, 0, 0),
        "rows": ("stub", 1, 0, -1),
    },
    "none": {
        "energy": ("stub", 0, 0, 0, None, None),
        "audio": ("stub", 16000, 1, 16, 0, 0, 0),
        "haar": ("stub", 0, 0, 0, 0),
        "decim": ("stub", 0, 0, 0, 0),
        "rows": ("stub", 1, 0, -1),
    },
}

#   meta:  width, height, channels, n_bytes
#   ahash / dhash: width, height, phash_hi, phash_lo
PNG_PINNED = {
    "gray16x8": {
        "meta": ("png", 16, 8, 1, 193),
        "ahash": ("png", 16, 8, 66311, 524255231),
        "dhash": ("png", 16, 8, 4294967295, 4294967295),
    },
    "gray8x16_gradient": {
        "meta": ("png", 8, 16, 1, 208),
        "ahash": ("png", 8, 16, 117901063, 117903119),
        "dhash": ("png", 8, 16, 2139062143, 2139062143),
    },
    "rgb8x8": {
        "meta": ("png", 8, 8, 3, 117),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
    "filter1": {
        "meta": ("png", 8, 8, 1, 137),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
    "gray12x8": {
        "meta": ("png", 12, 8, 1, 169),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
    "gray16bit": {
        "meta": ("png", 8, 8, 1, 69),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
    "bad_color_type": {
        "meta": ("stub", 25, 18, 3, 137),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
    "corrupt_idat": {
        "meta": ("stub", 32, 17, 3, 80),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
    "junk": {
        "meta": ("stub", 43, 16, 3, 27),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
    "none": {
        "meta": ("stub", 16, 16, 3, 0),
        "ahash": ("stub", 0, 0, 0, 0),
        "dhash": ("stub", 0, 0, 0, 0),
    },
}


def test_wav_ops_pinned(spark):
    ops = {
        "energy": (
            lambda df: mm.audio_frame_energy(df).select("doc_id", "energy"),
            ("decoder", "n_stream_samples", "n_frames", "total_energy",
             "peak_frame", "peak_energy"),
        ),
        "audio": (
            lambda df: mm.decode_audio(df).select("doc_id", "audio"),
            ("decoder", "sample_rate", "channels", "bits_per_sample",
             "n_samples", "duration_micros", "n_bytes"),
        ),
        "haar": (
            lambda df: mm.audio_haar_bands(df).select("doc_id", "haar"),
            ("decoder", "n_stream_samples", "approx_sq", "band_1", "band_6"),
        ),
        "decim": (
            lambda df: mm.audio_decimate_stats(df).select("doc_id", "decimated"),
            ("decoder", "n_stream_samples", "n_out_samples", "sum_out",
             "checksum_out"),
        ),
    }
    got = _pinned(spark, WAV_CASES, ops)
    for name, rows in _frame_rows(spark, WAV_CASES).items():
        got[name]["rows"] = rows
    assert got == WAV_PINNED


def test_png_ops_pinned(spark):
    ops = {
        "meta": (
            lambda df: mm.decode_media(df).select("doc_id", "meta"),
            ("decoder", "width", "height", "channels", "n_bytes"),
        ),
        "ahash": (
            lambda df: mm.image_ahash(df).select("doc_id", "ahash"),
            ("decoder", "width", "height", "phash_hi", "phash_lo"),
        ),
        "dhash": (
            lambda df: mm.image_dhash(df).select("doc_id", "dhash"),
            ("decoder", "width", "height", "phash_hi", "phash_lo"),
        ),
    }
    assert _pinned(spark, PNG_CASES, ops) == PNG_PINNED


def _gif8x8(frames) -> bytes:
    """GIF89a of 8x8 frames over an identity grayscale palette. Each
    frame's LZW stream is one literal code per pixel (64 codes never
    widen the 9-bit code size)."""
    out = bytearray(b"GIF89a" + struct.pack("<HHBBB", 8, 8, 0xF7, 0, 0))
    out += b"".join(bytes((i, i, i)) for i in range(256))
    for pixels in frames:
        acc = bits = 0
        stream = bytearray()
        for code in (256, *pixels, 257):
            acc |= code << bits
            bits += 9
            while bits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                bits -= 8
        if bits:
            stream.append(acc)
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 8, 8, 0) + b"\x08"
        for i in range(0, len(stream), 255):
            out += bytes((len(stream[i : i + 255]),)) + stream[i : i + 255]
        out += b"\x00"
    return bytes(out + b"\x3b")


_GIF = _gif8x8([bytes((3 * i + f) % 256 for i in range(64)) for f in range(3)])

# every mapInPandas stage, the payload it runs on, and the decoder its
# output must name (a stub means the real decode path did not run)
_STAGES = {
    "decode_media": (mm.decode_media, PNG_CASES["gray16x8"], "png"),
    "image_ahash": (mm.image_ahash, PNG_CASES["gray16x8"], "png"),
    "image_dhash": (mm.image_dhash, PNG_CASES["gray16x8"], "png"),
    "decode_audio": (mm.decode_audio, WAV_CASES["pcm16"], "wav"),
    "audio_frame_energy": (mm.audio_frame_energy, WAV_CASES["pcm16"], "wav"),
    "audio_frame_rows": (mm.audio_frame_rows, WAV_CASES["pcm16"], "wav"),
    "audio_haar_bands": (mm.audio_haar_bands, WAV_CASES["pcm16"], "wav"),
    "audio_decimate_stats": (mm.audio_decimate_stats, WAV_CASES["pcm16"], "wav"),
    "sample_frames": (mm.sample_frames, b"0123456789abcdef", None),
    "gif_frame_stats": (mm.gif_frame_stats, _GIF, "gif"),
    "gif_sample_frames": (mm.gif_sample_frames, _GIF, "gif"),
    "gif_frame_dhash": (mm.gif_frame_dhash, _GIF, "gif"),
    "gif_resize_nearest": (mm.gif_resize_nearest, _GIF, "gif"),
}


def test_stages_run_without_this_package(spark, monkeypatch, tmp_path):
    """Every stage function pickles by value: a fresh interpreter with no
    PYTHONPATH to this repo unpickles each one and, on a one-row batch,
    produces the same frame as this process and a non-stub decode."""
    import json
    import os
    import subprocess
    import sys

    import pandas as pd
    from pyspark import cloudpickle

    captured = {}

    def capture(self, func, schema):
        captured["func"] = func
        return self

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    monkeypatch.setattr(type(empty), "mapInPandas", capture)
    funcs = {}
    for name, (op, payload, _decoder) in _STAGES.items():
        captured.clear()
        op(empty)
        funcs[name] = (captured["func"], payload)
    monkeypatch.undo()

    def run_all(stages):
        out = {}
        for name, (func, payload) in stages.items():
            batch = pd.DataFrame({"doc_id": [1], "payload": [payload]})
            frames = list(func(iter([batch])))
            out[name] = json.loads(pd.concat(frames).to_json(orient="records"))
        return out

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = (
        "import importlib.util, json, pickle, sys\n"
        "assert importlib.util.find_spec('hiv_data_integration_spark') is None\n"
        "stages, run_all = pickle.loads(sys.stdin.buffer.read())\n"
        "print(json.dumps(run_all(stages)))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code], input=cloudpickle.dumps((funcs, run_all)),
        cwd=tmp_path, env=env, capture_output=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr.decode()[-3000:]
    remote = json.loads(res.stdout.decode().strip().splitlines()[-1])
    assert remote == run_all(funcs)
    for name, (_op, _payload, decoder) in _STAGES.items():
        rows = remote[name]
        assert rows, name
        for r in rows:
            out = r.get("decoder") or next(
                (v["decoder"] for v in r.values() if isinstance(v, dict)), None
            )
            assert out == decoder, (name, r)
