"""Multimodal column operators: opaque binary payloads + typed metadata.

Engine extensions for multimodal training-data pipelines. Images / audio /
video are carried as ``binary`` columns with a ``media_type`` tag and a
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages so payloads stream through Python in
columnar batches (never row-at-a-time, never collected to the driver).

Decoding: one REAL stdlib reader per public format — PNG
(:func:`_make_png_reader`: signature + IHDR + zlib-inflated IDAT), WAV/RIFF
(:func:`_make_wav_reader`: one chunk walk) and GIF87a/89a
(:func:`_make_gif_decoder`: logical screen walk, variable-width LZW
validated against an independently published code/pixel sample, 4-pass
deinterlace, palette→luma) — then a clearly-marked deterministic stub for
media no reader parses (JPEG, junk, NULL). The Spark-side plumbing —
schema, partitioning, UDF signature, batch shapes — is real and tested
end-to-end with hand-built byte streams.

Stage shape. Every op is one stage built by one of two drivers:
:func:`_map_struct` (pass-through columns plus one struct column) or
:func:`_map_rows` (the id plus emitted rows). An op supplies a *decode*
step (payload bytes → parsed value, or None) and an *emit* step (parsed
value or None → output). The driver converts each payload to bytes once
and runs decode inside the module's only ``except Exception`` — a payload
that fails to decode becomes the op's labeled ``stub`` — and runs emit
outside it, so a bug in hash or stats code raises instead of turning into
a stub.

By-value convention. Everything that runs on a Python worker (readers,
decode and emit steps, the batch functions) is a closure built by a
factory on the driver, and references only closure variables and
stdlib/numpy/pandas modules — never a module-level function of this
package. cloudpickle ships such closures by value, so the workers of a
session this package did not build, whose ``PYTHONPATH`` may lack the
repo, still run every stage.

WAV acceptance. The reader yields every complete ``fmt `` chunk
(``tag, channels, rate, block_align, bits``) in file order, whether a
``fmt `` chunk was cut short by the end of the payload, and the last
``data`` chunk's bytes and declared length. A ``fmt `` chunk declaring
fewer than 16 bytes is ignored by every op. Per op:

- ``audio_frame_energy``, ``audio_frame_rows``: at least one ``fmt ``, and
  every one PCM (tag 1) at 16 bits; a ``data`` chunk;
- ``decode_audio``: at least one ``fmt ``, every one PCM at any depth, the
  last one with nonzero rate and block align; a ``data`` chunk, whose
  declared length counts;
- ``audio_haar_bands``, ``audio_decimate_stats``: the last ``fmt `` is 16-bit
  (any tag) and none is cut short; a ``data`` chunk.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_META_SCHEMA",
    "AUDIO_META_SCHEMA",
    "attach_payload",
    "payload_meta",
    "decode_media",
    "decode_audio",
    "audio_frame_energy",
    "audio_haar_bands",
    "audio_decimate_stats",
    "image_ahash",
    "image_dhash",
    "gif_frame_stats",
    "gif_sample_frames",
    "gif_resize_nearest",
    "sample_frames",
]

# Typed metadata contract for decoded media.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text", media_type: str = "image") -> DataFrame:
    """Demo payload synthesis: UTF-8 bytes of a text column as the opaque
    binary payload (stands in for real image/audio bytes in tests)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_type", F.lit(media_type)
    )


def payload_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap native metadata: byte length + content digest (no decode).

    This is the path that runs over 100 TB — pure JVM expressions; the
    Python decode stage below is reserved for rows that pass filtering.
    """
    return df.withColumn("n_bytes", F.octet_length(payload_col).cast("long")).withColumn(
        "digest", F.sha2(F.col(payload_col), 256)
    )


# ---------------------------------------------------------------------------
# The two batch drivers
# ---------------------------------------------------------------------------


def _guard(decode: Callable[[bytes], object]):
    """``payload -> (bytes, decode(bytes) or None)``: the one place a
    decode failure is caught and turned into "no decode"."""

    def run(payload):
        data = bytes(payload) if payload is not None else b""
        try:
            return data, decode(data)
        except Exception:  # malformed payload -> the op's labeled stub
            return data, None

    return run


def _map_struct(
    df: DataFrame,
    payload_col: str,
    out_col: str,
    out_struct: T.StructType,
    decode: Callable[[bytes], object],
    emit: Callable[[bytes, object], dict],
) -> DataFrame:
    """Struct-shaped stage: every input column but the payload passes
    through, plus ``out_col = emit(data, decode(data))`` per row."""
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    passthrough = [f.name for f in in_fields]
    run = _guard(decode)

    def struct_batches(batches):
        for pdf in batches:
            out = pdf[passthrough].copy()
            out[out_col] = [emit(*run(p)) for p in pdf[payload_col]]
            yield out

    out_schema = T.StructType([*in_fields, T.StructField(out_col, out_struct)])
    return df.mapInPandas(struct_batches, out_schema)


def _map_rows(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    out_fields: list[T.StructField],
    decode: Callable[[bytes], object],
    emit: Callable[[int, bytes, object], Iterable[tuple]],
) -> DataFrame:
    """Rows-shaped stage: one input row → the tuples
    ``emit(int(id), data, decode(data))``, one per output row."""
    cols = [f.name for f in out_fields]
    run = _guard(decode)

    def rows_batches(batches):
        for pdf in batches:
            rows = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                rows.extend(emit(int(key), *run(payload)))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(rows_batches, T.StructType(out_fields))


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


def _make_png_reader():
    """Build ``read_png(data) -> (w, h, bit_depth, color_type, raw)``, or
    None for a payload without the PNG signature and a leading IHDR. The
    PNG format is public: 8-byte signature, an IHDR chunk whose first data
    bytes are big-endian width/height, bit depth and color type, then
    chunks up to IEND. ``raw`` is the concatenated IDAT stream inflated
    with zlib, which raises on a truncated or corrupt stream."""

    def read_png(data: bytes):
        n = len(data)
        if n <= 33 or data[:8] != b"\x89PNG\r\n\x1a\n" or data[12:16] != b"IHDR":
            return None
        w, h = struct.unpack(">II", data[16:24])
        idat, off = [], 8
        while off + 8 <= n:
            (length,) = struct.unpack(">I", data[off : off + 4])
            ctype = data[off + 4 : off + 8]
            if ctype == b"IDAT":
                idat.append(data[off + 8 : off + 8 + length])
            if ctype == b"IEND":
                break
            off += 12 + length  # len + type + data + crc
        return w, h, data[24], data[25], zlib.decompress(b"".join(idat))

    return read_png


def decode_media(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode payloads to typed metadata via Arrow-batched ``mapInPandas``.

    Output schema = input columns (minus payload) + ``meta`` struct
    (MEDIA_META_SCHEMA). A PNG whose IDAT inflates reports its true
    dims and channels (``decoder='png'``); anything else gets the
    deterministic stub, dims a pure function of the byte length
    (SQL_DECODE_STUB mirrors it). With a real decoder the same stage
    would also emit pixel tensors / resized thumbnails as binary columns.
    """
    read_png = _make_png_reader()
    channels_of = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

    def decode(data):
        png = read_png(data)
        return png and (png[0], png[1], channels_of[png[3]])

    def emit(data, dec):
        n = len(data)
        if dec is None:
            w, h, c = 16 + (n % 64), 16 + ((n // 64) % 64), 3
            return {"width": w, "height": h, "channels": c, "n_bytes": n, "decoder": "stub"}
        w, h, c = dec
        return {"width": int(w), "height": int(h), "channels": c, "n_bytes": n, "decoder": "png"}

    return _map_struct(df, payload_col, "meta", MEDIA_META_SCHEMA, decode, emit)


# Perceptual-hash contract: the 64-bit average-hash split into two
# unsigned 32-bit halves (hi = grid rows 0-3, lo = rows 4-7, MSB-first
# within each half) so both engines carry it in a SIGNED 64-bit column
# without overflow games.
AHASH_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("phash_hi", T.LongType()),
        T.StructField("phash_lo", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def _map_gray_hash(df: DataFrame, payload_col: str, out_col: str, hash_of) -> DataFrame:
    """Shared stage of the two image hashes: decode 8-bit grayscale PNGs
    with filter type 0 on every scanline and dims divisible by 8 into
    scanline rows, then ``hash_of(w, h, rows) -> (hi, lo)``. Any other
    surface — RGB, sub/up/average/paeth filters, interlace, non-PNG
    bytes — gets the labeled zero-hash stub rather than a half-decoded
    wrong answer."""
    read_png = _make_png_reader()

    def decode(data):
        png = read_png(data)
        if png is None:
            return None
        w, h, bit_depth, color_type, raw = png
        if bit_depth != 8 or color_type != 0 or not w or not h or w % 8 or h % 8:
            return None
        stride = w + 1
        if len(raw) != stride * h or any(raw[y * stride] for y in range(h)):
            return None
        return w, h, [raw[y * stride + 1 : (y + 1) * stride] for y in range(h)]

    def emit(_data, dec):
        if dec is None:
            return {"width": 0, "height": 0, "phash_hi": 0, "phash_lo": 0, "decoder": "stub"}
        w, h, rows = dec
        hi, lo = hash_of(w, h, rows)
        return {"width": int(w), "height": int(h), "phash_hi": int(hi),
                "phash_lo": int(lo), "decoder": "png"}

    return _map_struct(df, payload_col, out_col, AHASH_SCHEMA, decode, emit)


def image_ahash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Image perceptual hash (average-hash) from a REAL stdlib PNG pixel
    decode — the image near-dup primitive of a multimodal training
    pipeline (aHash buckets catch re-encoded / resized duplicates that
    byte digests miss).

    The pixel path is genuinely decoded, not faked: PNG signature → IHDR
    dims → zlib-inflate the concatenated IDAT stream → per-scanline
    filter bytes. Supported surface is 8-bit GRAYSCALE with filter type
    0 on every scanline and dimensions divisible by 8 (the synthetic
    corpus shape); anything else falls back to the labeled ``stub``
    (zero hash).

    The hash itself is EXACT integer arithmetic (SQL-oracle-able): the
    8×8 grid cell (i,j) covers pixel block ``[i·h/8, (i+1)·h/8) ×
    [j·w/8, (j+1)·w/8)``; bit = 1 iff ``64·cell_sum >= total_sum``
    (cross-multiplied — no means, no floats). Bits pack MSB-first into
    two unsigned 32-bit halves (AHASH_SCHEMA). Cost: O(pixels) per row
    in an Arrow batch — the decode IS the work; there is no cheaper
    honest path to pixel statistics.
    """

    def ahash_of(w: int, h: int, rows) -> tuple[int, int]:
        cw, ch = w // 8, h // 8
        cells = [[0] * 8 for _ in range(8)]
        total = 0
        for y in range(h):
            row = rows[y]
            crow = cells[y // ch]
            for x in range(w):
                v = row[x]
                crow[x // cw] += v
                total += v
        hi = lo = 0
        for i in range(8):
            for j in range(8):
                bit = 1 if 64 * cells[i][j] >= total else 0
                if i < 4:
                    hi |= bit << (31 - (i * 8 + j))
                else:
                    lo |= bit << (31 - ((i - 4) * 8 + j))
        return hi, lo

    return _map_gray_hash(df, payload_col, "ahash", ahash_of)


def image_dhash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Difference-hash (dHash) from a REAL stdlib PNG pixel decode — the
    gradient-based companion to :func:`image_ahash` (aHash thresholds
    against the global mean; dHash encodes the sign of adjacent-pixel
    gradients, which survives brightness shifts that flip aHash bits).

    Exact integer contract: the frame is downsampled to a 9×8 grid by
    nearest-neighbor (``sx = tx·w//9``, ``sy = ty·h//8`` — index
    arithmetic, no averaging, no floats); bit ``(row, x)`` = 1 iff
    ``p[sx_{x+1}] > p[sx_x]`` within the row — 8 comparisons × 8 rows =
    64 bits, packed MSB-first into the same two unsigned 32-bit halves
    as AHASH_SCHEMA. Decode surface identical to image_ahash (8-bit
    grayscale, filter-0, dims divisible by 8); anything else → labeled
    stub row. O(pixels) decode + O(72) gather per row.
    """

    def dhash_of(w: int, h: int, rows) -> tuple[int, int]:
        hi = lo = 0
        for ty in range(8):
            row = rows[ty * h // 8]
            cells = [row[tx * w // 9] for tx in range(9)]
            for x in range(8):
                bit = 1 if cells[x + 1] > cells[x] else 0
                if ty < 4:
                    hi |= bit << (31 - (ty * 8 + x))
                else:
                    lo |= bit << (31 - ((ty - 4) * 8 + x))
        return hi, lo

    return _map_gray_hash(df, payload_col, "dhash", dhash_of)


# ---------------------------------------------------------------------------
# WAV / RIFF
# ---------------------------------------------------------------------------


def _make_wav_reader():
    """Build ``read_wav(data) -> (fmts, fmt_cut, body, data_len)``. The
    RIFF container is public: a 12-byte ``RIFF``/size/``WAVE`` header, then
    chunks of a 4-byte id, a little-endian uint32 size, the data and 1 pad
    byte when the size is odd. A payload without the header reads as one
    with no chunks. One walk collects:

    - ``fmts``: every ``fmt `` chunk of at least 16 bytes, in file order,
      as ``(tag, channels, rate, block_align, bits)``;
    - ``fmt_cut``: whether the payload ends inside such a chunk;
    - ``body`` / ``data_len``: the last ``data`` chunk's bytes as present
      and its declared length (None without a ``data`` chunk).
    """

    def read_wav(data: bytes):
        n = len(data)
        fmts, fmt_cut, body, data_len = [], False, None, None
        # without the header, no chunk is read
        off = 12 if data[:4] == b"RIFF" and data[8:12] == b"WAVE" else n
        while off + 8 <= n:
            cid = data[off : off + 4]
            (clen,) = struct.unpack("<I", data[off + 4 : off + 8])
            chunk = data[off + 8 : off + 8 + clen]
            if cid == b"fmt " and clen >= 16:
                if len(chunk) < 16:
                    fmt_cut = True
                else:
                    tag, ch, sr, _br, ba, bits = struct.unpack("<HHIIHH", chunk[:16])
                    fmts.append((tag, ch, sr, ba, bits))
            elif cid == b"data":
                body, data_len = chunk, clen
            off += 8 + clen + (clen & 1)
        return fmts, fmt_cut, body, data_len

    return read_wav


def _make_pcm16_body():
    """``body(data)``: the ``data`` bytes of a WAV whose every ``fmt `` is
    16-bit PCM (the frame-energy ops' acceptance rule), else None."""
    read_wav = _make_wav_reader()

    def body(data):
        fmts, _cut, chunk, _len = read_wav(data)
        if fmts and all(f[0] == 1 and f[4] == 16 for f in fmts):
            return chunk
        return None

    return body


def _make_last16_body():
    """``body(data)``: the ``data`` bytes of a WAV whose last ``fmt `` is
    16-bit at any tag, none cut short (the Haar and decimation ops'
    acceptance rule), else None."""
    read_wav = _make_wav_reader()

    def body(data):
        fmts, cut, chunk, _len = read_wav(data)
        return chunk if fmts and not cut and fmts[-1][4] == 16 else None

    return body


# Frame-energy audio fingerprint contract. Energies are exact BIGINT
# sums of squared 16-bit samples (max 400·32768² ≈ 4.3e11 per frame —
# never near overflow), so a SQL oracle reproduces them bit-for-bit.
AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("n_stream_samples", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("total_energy", T.LongType()),
        T.StructField("peak_frame", T.LongType()),
        T.StructField("peak_energy", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def audio_frame_energy(
    df: DataFrame,
    payload_col: str = "payload",
    frame_samples: int = 400,
    hop_samples: int = 160,
) -> DataFrame:
    """CONTENT-level audio processing over real decoded PCM samples — the
    energy-profile fingerprint stage of an audio dedup/segmentation
    pipeline (the integer core of chromaprint-style fingerprints, minus
    the FFT this container has no DSP library for): parse the WAV
    container (:func:`_make_wav_reader`), decode
    the ``data`` chunk as 16-bit little-endian signed PCM, and compute
    per-frame energies ``Σ s²`` over a sliding window (``frame_samples``
    window / ``hop_samples`` hop, over the RAW INTERLEAVED stream —
    channel-agnostic by design, documented). Emits the stream census:
    total energy, frame count, and the peak frame (ties → lowest index).

    Exact integer arithmetic end-to-end — a SQL oracle can rebuild every
    energy from first principles. Per-row cost is O(bytes + frames) via
    a prefix-sum of squares, Arrow-batched; non-PCM/non-WAV payloads get
    the labeled zero stub. Clips shorter than one window report
    ``n_frames = 0`` and NULL peak fields.
    """
    if frame_samples < 1 or hop_samples < 1:
        raise ValueError("frame_samples and hop_samples must be >= 1")
    win, hop = frame_samples, hop_samples
    pcm16_body = _make_pcm16_body()

    def decode(data):
        body = pcm16_body(data)
        if body is None:
            return None
        ns = len(body) // 2
        return struct.unpack("<%dh" % ns, body[: ns * 2])

    def emit(_data, samples):
        if samples is None:
            return {"n_stream_samples": 0, "n_frames": 0, "total_energy": 0,
                    "peak_frame": None, "peak_energy": None, "decoder": "stub"}
        ns = len(samples)
        # prefix sums of squares: energy(f) = P[f*hop+win]-P[f*hop]
        pref = [0] * (ns + 1)
        acc = 0
        for i, s in enumerate(samples):
            acc += s * s
            pref[i + 1] = acc
        n_frames = (ns - win) // hop + 1 if ns >= win else 0
        peak_f = peak_e = None
        for f in range(n_frames):
            e = pref[f * hop + win] - pref[f * hop]
            if peak_e is None or e > peak_e:
                peak_f, peak_e = f, e
        return {"n_stream_samples": ns, "n_frames": n_frames, "total_energy": acc,
                "peak_frame": peak_f, "peak_energy": peak_e, "decoder": "wav"}

    return _map_struct(df, payload_col, "energy", AUDIO_ENERGY_SCHEMA, decode, emit)


def audio_frame_rows(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_samples: int = 400,
    hop_samples: int = 160,
) -> DataFrame:
    """Per-frame energy ROWS over real decoded PCM — the row-granular
    twin of :func:`audio_frame_energy` (which emits a per-clip census
    struct): one output row per analysis frame ``(doc_id, n_frames,
    frame_idx, energy)``, the shape segmentation/activity-detection
    pipelines consume (threshold + run-length grouping stay NATIVE
    Spark — window functions over the frame rows, no second Python
    pass). Same WAV acceptance, 16-bit LE PCM decode, and
    window/hop lattice as the census op; exact integer energies via a
    vectorized cumulative sum of squares. Clips shorter than one
    window emit no rows; undecodable payloads emit one labeled stub
    row (frame_idx -1). O(bytes + frames) per blob, no shuffle."""
    if frame_samples < 1 or hop_samples < 1:
        raise ValueError("frame_samples and hop_samples must be >= 1")
    out_fields = [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
    win, hop = frame_samples, hop_samples
    pcm16_body = _make_pcm16_body()

    def decode(data):
        body = pcm16_body(data)
        if body is None:
            return None
        return np.frombuffer(body, dtype="<i2", count=len(body) // 2).astype(np.int64)

    def emit(doc_id, _data, samples):
        if samples is None:
            return [(doc_id, 0, -1, 0, "stub")]
        ns = samples.size
        n_frames = (ns - win) // hop + 1 if ns >= win else 0
        if n_frames == 0:
            return []
        csq = np.concatenate(([0], np.cumsum(samples * samples)))
        starts = np.arange(n_frames) * hop
        energies = csq[starts + win] - csq[starts]
        return [(doc_id, n_frames, int(f), int(e), "wav") for f, e in enumerate(energies)]

    return _map_rows(df, payload_col, id_col, out_fields, decode, emit)


# Typed metadata contract for decoded audio. duration_micros is exact
# integer floor arithmetic (n_samples * 1e6 // sample_rate) so a SQL
# oracle reproduces it bit-for-bit.
AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_micros", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def decode_audio(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """REAL stdlib WAV/RIFF header parse via Arrow-batched ``mapInPandas``
    — the audio twin of ``decode_media``'s real PNG decoder. The RIFF
    walk (:func:`_make_wav_reader`) yields the canonical ``fmt `` fields
    (PCM format tag, channels, sample rate, block align, bits per sample)
    and the ``data`` chunk's declared length, deriving
    ``n_samples = data_len // block_align`` and an exact integer
    ``duration_micros``. Anything that is not a well-formed PCM WAV —
    wrong magic, truncated chunks, zero block align — falls through to
    the clearly-labeled deterministic stub (dims from byte length), never
    to bogus half-parsed values.

    Output schema = input columns (minus payload) + ``audio`` struct
    (AUDIO_META_SCHEMA). Per-row work is O(header chunks), not O(bytes):
    sample data is never touched, so the stage streams 100 TB of payload
    at Arrow batch granularity with seek-sized CPU cost.
    """
    read_wav = _make_wav_reader()

    def decode(data):
        fmts, _cut, _body, data_len = read_wav(data)
        if not fmts or any(f[0] != 1 for f in fmts) or data_len is None:
            return None
        _tag, ch, sr, ba, bits = fmts[-1]
        return (ch, sr, bits, data_len // ba) if ba and sr else None

    def emit(data, dec):
        nb = len(data)
        # the stub (as in decode_media): every value a pure function of
        # the byte length
        ch, sr, bits, ns = dec or (1, 16000, 16, nb // 2)
        return {"sample_rate": int(sr), "channels": int(ch), "bits_per_sample": int(bits),
                "n_samples": int(ns), "duration_micros": int(ns * 1_000_000 // sr),
                "n_bytes": nb, "decoder": "wav" if dec else "stub"}

    return _map_struct(df, payload_col, "audio", AUDIO_META_SCHEMA, decode, emit)


# Haar band-energy audio fingerprint contract: exact integer wavelet
# cascade over the first 64 decoded PCM samples. band_L = Σ d² over the
# level-L detail coefficients (level 1 = finest / adjacent-sample
# differences, level 6 = coarsest), approx_sq = (Σ all 64 samples)².
# Max magnitude: level-6 coefficients are sums of 64 16-bit samples
# (≤ 2^21), squared ≤ 2^42, × 32 coefficients — comfortably BIGINT.
AUDIO_HAAR_SCHEMA = T.StructType(
    [
        T.StructField("n_stream_samples", T.LongType()),
        T.StructField("approx_sq", T.LongType()),
        T.StructField("band_1", T.LongType()),
        T.StructField("band_2", T.LongType()),
        T.StructField("band_3", T.LongType()),
        T.StructField("band_4", T.LongType()),
        T.StructField("band_5", T.LongType()),
        T.StructField("band_6", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def audio_haar_bands(
    df: DataFrame, payload_col: str = "payload", n_samples: int = 64
) -> DataFrame:
    """Haar-wavelet band-energy audio fingerprint over REAL decoded PCM —
    the frequency-structure companion to :func:`audio_frame_energy`
    (which is amplitude-only): an unnormalized 6-level Haar cascade
    (``s=a+b, d=a-b`` per pair) over the first 64 samples of the decoded
    16-bit LE stream, emitting the per-octave detail energies
    ``Σ d²``. Integer adds/subs/squares only — EXACT and SQL-oracle-able,
    unlike an FFT (this is the chromaprint shape without libm). A WAV
    whose stream is shorter than 64 samples falls back to the labeled
    stub row rather than zero-padding silently.

    O(header + 64 samples) per blob — cheaper than the full-stream
    energy pass; the 100 TB path is the same Arrow ``mapInPandas``
    projection, no shuffle.
    """
    nn = int(n_samples)
    if nn & (nn - 1) or nn <= 0:
        raise ValueError("n_samples must be a power of two")
    n_levels = nn.bit_length() - 1

    def emit(_data, body):
        nss = len(body) // 2 if body is not None else 0
        if body is None or nss < nn:
            return {"n_stream_samples": nss, "approx_sq": 0, "band_1": 0, "band_2": 0,
                    "band_3": 0, "band_4": 0, "band_5": 0, "band_6": 0, "decoder": "stub"}
        a = list(struct.unpack("<%dh" % nn, body[: 2 * nn]))
        bands = []
        for _lvl in range(n_levels):
            s = []
            e = 0
            for i in range(0, len(a), 2):
                s.append(a[i] + a[i + 1])
                d = a[i] - a[i + 1]
                e += d * d
            bands.append(e)
            a = s
        return {"n_stream_samples": nss, "approx_sq": a[0] * a[0],
                "band_1": bands[0], "band_2": bands[1], "band_3": bands[2],
                "band_4": bands[3], "band_5": bands[4], "band_6": bands[5],
                "decoder": "wav"}

    return _map_struct(df, payload_col, "haar", AUDIO_HAAR_SCHEMA, _make_last16_body(), emit)


AUDIO_DECIMATE_SCHEMA = T.StructType(
    [
        T.StructField("n_stream_samples", T.LongType()),
        T.StructField("n_out_samples", T.LongType()),
        T.StructField("sum_out", T.LongType()),
        T.StructField("checksum_out", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def audio_decimate_stats(
    df: DataFrame, payload_col: str = "payload", factor: int = 2
) -> DataFrame:
    """Integer decimation resample over REAL decoded PCM — the
    sample-rate-reduction stage of an audio pipeline, in EXACT
    arithmetic (a real resampler adds an anti-alias FIR; the
    floor-mean of each consecutive pair IS the 2-tap boxcar case, and
    it is bit-portable where a float FIR is not): output sample
    ``y_k = floor((s_{fk} + … + s_{fk+f-1}) / f)`` over the decoded
    16-bit LE stream, trailing partial window dropped. Emits the
    decimated census (count, exact sum, position-weighted checksum) —
    the downstream fingerprint contract without shipping the samples.
    O(stream) per blob inside Arrow ``mapInPandas``; numpy reshape does
    the fold, Python only parses the RIFF container.
    """
    ff = int(factor)
    if ff < 2:
        raise ValueError("factor must be >= 2")

    def emit(_data, body):
        if body is None or len(body) < 2 * ff:
            return {"n_stream_samples": len(body) // 2 if body is not None else 0,
                    "n_out_samples": 0, "sum_out": 0, "checksum_out": 0, "decoder": "stub"}
        arr = np.frombuffer(body[: (len(body) // 2) * 2], dtype="<i2").astype(np.int64)
        nss = arr.size
        n_out = nss // ff
        folded = arr[: n_out * ff].reshape(n_out, ff).sum(axis=1)
        y = np.floor_divide(folded, ff)  # floor, not truncation
        return {"n_stream_samples": int(nss), "n_out_samples": int(n_out),
                "sum_out": int(y.sum()),
                "checksum_out": int((y * np.arange(1, n_out + 1)).sum()),
                "decoder": "wav"}

    return _map_struct(
        df, payload_col, "decimated", AUDIO_DECIMATE_SCHEMA, _make_last16_body(), emit
    )


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    n_frames: int = 4,
) -> DataFrame:
    """Video frame sampling stub: split the payload into ``n_frames`` even
    byte slices ("frames") and emit one row per frame with its digest —
    the real implementation would demux with ffmpeg inside the same
    ``mapInPandas`` shape (one input row → many output rows)."""
    out_fields = [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
    ]

    def emit(media_id, data, _dec):
        step = max(1, len(data) // n_frames)
        for i in range(n_frames):
            chunk = data[i * step : (i + 1) * step]
            yield (media_id, i, len(chunk), hashlib.sha256(chunk).hexdigest())

    return _map_rows(df, payload_col, id_col, out_fields, lambda data: None, emit)


# ---------------------------------------------------------------------------
# REAL GIF87a/89a decode (stdlib-only): the video/animation leg's actual
# codec. GIF is a public format: 6-byte signature, logical screen
# descriptor, optional global color table, then a block stream of
# extensions (0x21), image descriptors (0x2C) and the trailer (0x3B).
# Pixel data is variable-width LZW (codes start at min_code_size+1 bits,
# clear/EOI codes, dictionary grows to 12 bits) packed LSB-first into
# 255-byte sub-blocks. The decoder below is validated against the public
# 10x10 sample stream from Matthew Flickinger's "What's In A GIF"
# walkthrough (an independent, hand-published code/pixel pair), not just
# against this repo's own encoder.
# ---------------------------------------------------------------------------


def _make_gif_decoder():
    """Build the GIF decode function (a by-value closure, see the module
    docstring)."""
    import struct as _struct

    # per-alphabet root-table templates, built once and list-copied on
    # every clear code (rebuilding 256 one-byte entries per frame was a
    # third of the decode cost at 17.5k frames/battery-run). The table
    # is a LIST — LZW codes are dense integers assigned in order, so
    # `code < next_code` replaces the dict probe and `table[code]` is a
    # C array index (r11: the dict table + per-code int.from_bytes
    # slicing were the two hottest lines in the decode profile).
    _roots: dict[int, list[bytes]] = {}
    # palette bytes -> 256-byte luma translate table: palette→luma is
    # per-pixel work, and bytes.translate runs it in C instead of a
    # Python generator (the synthetic corpus shares ONE global palette,
    # so this is build-once; bounded against pathological inputs).
    _luma_luts: dict[bytes, bytes] = {}

    def lzw_decode(stream: bytes, mcs: int, expect: int):
        clear = 1 << mcs
        eoi = clear + 1
        out = bytearray()

        base = _roots.get(clear)
        if base is None:
            # clear/eoi slots hold placeholders so len(table) == next_code
            base = [bytes([i]) for i in range(clear)] + [b"", b""]
            _roots[clear] = base

        table = list(base)
        next_code = eoi + 1
        code_size = mcs + 1
        mask = (1 << code_size) - 1
        prev = None
        # LSB-first bit accumulator: each byte enters once, each code is
        # one AND + one shift — no per-code slicing
        acc = 0
        accbits = 0
        i = 0
        slen = len(stream)
        while len(out) < expect:
            while accbits < code_size:
                if i >= slen:
                    return (
                        bytes(out[:expect]) if len(out) >= expect else None
                    )
                acc |= stream[i] << accbits
                i += 1
                accbits += 8
            code = acc & mask
            acc >>= code_size
            accbits -= code_size
            if code == eoi:
                break
            if code == clear:
                table = list(base)
                next_code = eoi + 1
                code_size = mcs + 1
                mask = (1 << code_size) - 1
                prev = None
                continue
            if prev is None:
                # first code after a clear must be a root (table holds
                # exactly the roots + clear/eoi placeholders here)
                if code >= next_code:
                    return None
                entry = table[code]
                out += entry
                prev = entry
                continue
            if code < next_code:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]  # the KwKwK special case
            else:
                return None
            out += entry
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
                mask = (1 << code_size) - 1
            prev = entry
        return bytes(out[:expect]) if len(out) >= expect else None

    def decode_gif(data: bytes, lzw_limit: int | None = None):
        """Parse a full GIF byte stream → ``(w, h, frames)`` where each
        frame is ``(fw, fh, delay_cs, luma_bytes)`` with luma =
        ``(299r+587g+114b)//1000`` through the active color table.
        Interlaced frames are deinterlaced (4-pass row remap) into
        raster order. Returns None for anything unsupported (missing
        palette, truncated LZW) — never a half-decoded wrong answer.
        ``lzw_limit`` decodes only the first N frames' pixel data
        (frames past it keep their structural metadata with
        ``luma=None``) — the decode-only-what-you-need path a
        thumbnailer uses; the container walk still visits every block
        so the frame census stays exact."""
        if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        w, h = _struct.unpack("<HH", data[6:10])
        packed = data[10]
        pos = 13
        gct = None
        if packed & 0x80:
            size = 2 ** ((packed & 7) + 1)
            gct = data[pos : pos + 3 * size]
            pos += 3 * size
        frames = []
        delay = 0
        n = len(data)
        while pos < n:
            b = data[pos]
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label byte + sub-blocks
                label = data[pos + 1]
                pos += 2
                if label == 0xF9 and data[pos] >= 3:
                    delay = _struct.unpack(
                        "<H", data[pos + 2 : pos + 4]
                    )[0]
                while True:
                    blen = data[pos]
                    pos += 1 + blen
                    if blen == 0:
                        break
            elif b == 0x2C:  # image descriptor
                _l, _t, fw, fh = _struct.unpack(
                    "<HHHH", data[pos + 1 : pos + 9]
                )
                fpacked = data[pos + 9]
                pos += 10
                pal = gct
                if fpacked & 0x80:  # local color table wins
                    size = 2 ** ((fpacked & 7) + 1)
                    pal = data[pos : pos + 3 * size]
                    pos += 3 * size
                if pal is None:
                    return None
                interlaced = bool(fpacked & 0x40)
                mcs = data[pos]
                pos += 1
                stream = bytearray()
                while True:
                    blen = data[pos]
                    stream += data[pos + 1 : pos + 1 + blen]
                    pos += 1 + blen
                    if blen == 0:
                        break
                if lzw_limit is not None and len(frames) >= lzw_limit:
                    frames.append((fw, fh, delay, None))
                    delay = 0
                    continue
                idx = lzw_decode(bytes(stream), mcs, fw * fh)
                if idx is None:
                    return None
                if interlaced:
                    # GIF 4-pass interlace (87a spec): stored row order is
                    # passes (start 0, step 8), (4, 8), (2, 4), (1, 2) —
                    # map each stored row back to its raster position
                    out_rows: list[bytes | None] = [None] * fh
                    stored = 0
                    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                        for y in range(start, fh, step):
                            out_rows[y] = idx[stored * fw : (stored + 1) * fw]
                            stored += 1
                    idx = b"".join(out_rows)
                pal_key = bytes(pal)
                lut = _luma_luts.get(pal_key)
                if lut is None:
                    npal = len(pal) // 3
                    lut = bytes(
                        (
                            299 * pal[3 * i]
                            + 587 * pal[3 * i + 1]
                            + 114 * pal[3 * i + 2]
                        )
                        // 1000
                        if i < npal
                        else 0
                        for i in range(256)
                    )
                    if len(_luma_luts) >= 64:  # pathological-input bound
                        _luma_luts.clear()
                    _luma_luts[pal_key] = lut
                luma = idx.translate(lut)
                frames.append((fw, fh, delay, luma))
                delay = 0
            else:
                return None
        return w, h, frames

    return decode_gif


def _make_gif_grid():
    """Build ``(decode, cells8)`` for the 8×8 block-grid GIF ops:
    ``decode(data)`` is the frame list of a GIF whose every frame has
    nonzero dims divisible by 8 (the synthetic corpus shape), else None;
    ``cells8(fw, fh, luma)`` is the frame's 8×8 grid of exact integer
    block sums."""
    dec = _make_gif_decoder()

    def decode(data):
        res = dec(data)
        frames = res[2] if res else None
        if frames and all(fw and fh and fw % 8 == 0 and fh % 8 == 0 for fw, fh, _d, _l in frames):
            return frames
        return None

    def cells8(fw, fh, luma):
        grid = np.frombuffer(luma, dtype=np.uint8).astype(np.int64)
        return grid.reshape(8, fh // 8, 8, fw // 8).sum(axis=(1, 3))

    return decode, cells8


GIF_FRAME_SCHEMA_FIELDS = [
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("delay_cs", T.IntegerType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("pix_checksum", T.LongType()),
    T.StructField("decoder", T.StringType()),
]


def gif_frame_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-frame census over REAL decoded GIF frames — the video-ingest
    primitive (one input blob → one row per frame): animated GIF87a/89a
    container walk, variable-width LZW decompress, palette→luma mapping
    (:func:`_make_gif_decoder`). Emits exact-integer per-frame stats
    a SQL oracle can re-derive from the synthesis arithmetic:
    ``pix_sum = Σ v`` and the position-weighted
    ``pix_checksum = Σ v·(y·w + x + 1)``.

    Scale shape: Arrow-batched ``mapInPandas``, cost O(pixels) per blob,
    rows scale by n_frames only — no shuffle introduced; at 100 TB the
    decode parallelizes per input split and the per-frame rows feed
    downstream dedup/selection joins directly. Undecodable payloads emit
    one labeled ``decoder='stub'`` row (frame_idx -1) instead of being
    silently dropped.
    """
    out_fields = [T.StructField("media_id", T.LongType()), *GIF_FRAME_SCHEMA_FIELDS]
    dec = _make_gif_decoder()
    # position weights 1..n kept across rows and sliced per frame — a
    # fresh arange per tiny frame dominated the post-decode cost
    weights = np.arange(1, 1, dtype=np.int64)

    def emit(media_id, _data, res):
        nonlocal weights
        if res is None:
            return [(media_id, 0, -1, 0, 0, 0, 0, 0, "stub")]
        frames = res[2]
        rows = []
        for fi, (fw, fh, delay, luma) in enumerate(frames):
            # numpy for the stats: the LZW decode is irreducibly
            # per-byte Python, the arithmetic after it is not
            arr = np.frombuffer(luma, dtype=np.uint8).astype(np.int64)
            if weights.size < arr.size:
                weights = np.arange(1, arr.size + 1, dtype=np.int64)
            psum = int(arr.sum())
            pck = int(np.dot(arr, weights[: arr.size]))
            rows.append((media_id, len(frames), fi, fw, fh, delay, psum, pck, "gif"))
        return rows

    return _map_rows(df, payload_col, id_col, out_fields, dec, emit)


def gif_sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Uniform frame sampling over REAL decoded GIF frames — the
    frame-subsetting stage of a video training pipeline (sample k
    representative frames per clip, fingerprint each). Sampled indices
    are the exact-integer uniform lattice ``i·(nf-1)//(k-1)`` for
    ``i in 0..k-1`` (deduplicated, so short clips yield fewer rows), and
    each sampled frame is reduced to an 8×8 block-sum thumbnail whose
    position-weighted checksum ``Σ cell_sum·(ci·8+cj+1)`` is exact
    integer arithmetic a SQL oracle mirrors cell-for-cell. Requires
    dims divisible by 8 (the synthetic corpus shape) — anything else
    falls back to the labeled stub row.

    One blob → ≤k rows; O(pixels) decode per blob, no shuffle.
    """
    out_fields = [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("thumb_checksum", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
    decode, cells8 = _make_gif_grid()
    kk = int(k)

    def emit(media_id, _data, frames):
        if frames is None:
            return [(media_id, 0, -1, 0, 0, 0, 0, "stub")]
        nf = len(frames)
        if nf == 1 or kk == 1:
            picks = [0]
        else:
            picks = sorted({i * (nf - 1) // (kk - 1) for i in range(kk)})
        rows = []
        for fi in picks:
            fw, fh, _delay, luma = frames[fi]
            cells = cells8(fw, fh, luma).reshape(64)
            tck = int((cells * np.arange(1, 65)).sum())
            rows.append((media_id, nf, fi, fw, fh, int(cells.sum()), tck, "gif"))
        return rows

    return _map_rows(df, payload_col, id_col, out_fields, decode, emit)


def gif_frame_dhash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-frame 56-bit difference hash over REAL decoded GIF frames —
    the fingerprint leg of temporal video analysis (scene-cut
    detection, near-dup clip matching): decode every frame
    (:func:`_make_gif_decoder`), reduce it to the 8×8 block-sum grid
    (exact integers, dims divisible by 8 — the synthetic corpus shape;
    anything else yields the labeled stub row), then set bit
    ``ci·7+cj`` iff ``cell[ci][cj+1] > cell[ci][cj]`` (horizontal
    gradient sign, 8 rows × 7 comparisons). Everything after the hash
    is NATIVE Spark — consecutive-frame Hamming deltas are one lag
    window + ``bit_count(xor)``, so the temporal analysis never
    re-enters Python.

    One blob → n_frames rows; O(pixels) decode per blob, no shuffle.
    """
    out_fields = [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash56", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
    decode, cells8 = _make_gif_grid()
    bit_weights = np.left_shift(np.int64(1), np.arange(56, dtype=np.int64))

    def emit(media_id, _data, frames):
        if frames is None:
            return [(media_id, 0, -1, 0, 0, 0, "stub")]
        rows = []
        for fi, (fw, fh, _delay, luma) in enumerate(frames):
            cells = cells8(fw, fh, luma)
            bits = (cells[:, 1:] > cells[:, :-1]).reshape(56)
            fp = int(np.dot(bits.astype(np.int64), bit_weights))
            rows.append((media_id, len(frames), fi, fw, fh, fp, "gif"))
        return rows

    return _map_rows(df, payload_col, id_col, out_fields, decode, emit)


def gif_resize_nearest(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    size: int = 8,
) -> DataFrame:
    """Nearest-neighbor thumbnail resize over the REAL decoded first GIF
    frame — the image-resize stage of a multimodal pipeline running on
    actual decoded pixels. Source pixel for thumb cell
    ``(tx, ty)`` is ``(tx·w//size, ty·h//size)`` (exact integer index
    arithmetic); the checksum ``Σ v·(ty·size+tx+1)`` is SQL-oracle-able.
    O(pixels) decode + O(size²) gather per blob, no shuffle."""
    out_fields = [
        T.StructField("media_id", T.LongType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("thumb_checksum", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
    dec = _make_gif_decoder()
    sz = int(size)

    def decode(data):
        res = dec(data, 1)  # LZW-decode frame 0 only
        return res[2] if res and res[2] else None

    def emit(media_id, _data, frames):
        if frames is None:
            return [(media_id, 0, 0, 0, 0, "stub")]
        fw, fh, _delay, luma = frames[0]
        arr = np.frombuffer(luma, dtype=np.uint8).astype(np.int64)
        sx = (np.arange(sz) * fw) // sz
        sy = (np.arange(sz) * fh) // sz
        picked = arr[(sy[:, None] * fw + sx[None, :]).reshape(-1)]
        ck = int((picked * np.arange(1, sz * sz + 1)).sum())
        return [(media_id, fw, fh, len(frames), ck, "gif")]

    return _map_rows(df, payload_col, id_col, out_fields, decode, emit)
