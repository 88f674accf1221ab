"""Multimodal column operators: opaque binary payloads + typed metadata.

Engine extensions for multimodal training-data pipelines. Images / audio /
video are carried as ``binary`` columns with a ``media_type`` tag and a
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages so payloads stream through Python in
columnar batches (never row-at-a-time, never collected to the driver).

Decoding tiers: PIL when importable (not in this container), then REAL
stdlib codecs for the public formats — PNG (signature + IHDR +
zlib-inflated IDAT + unfilter), WAV/RIFF (chunk walk + 16-bit PCM), and
GIF87a/89a (logical screen walk, variable-width LZW validated against an
independently published code/pixel sample, 4-pass deinterlace,
palette→luma) — then a clearly-marked deterministic fake for media the
container cannot parse (JPEG). The Spark-side plumbing — schema,
partitioning, UDF signature, batch shapes — is real and tested
end-to-end with hand-built byte streams.
"""

from __future__ import annotations

from collections.abc import Iterator

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

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


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


def decode_media(
    df: DataFrame, payload_col: str = "payload", batch_hint: int | None = None
) -> DataFrame:
    """Decode payloads to typed metadata via Arrow-batched ``mapInPandas``.

    Output schema = input columns (minus payload) + ``meta`` struct
    (MEDIA_META_SCHEMA). With a real decoder the same stage would also emit
    pixel tensors / resized thumbnails as binary columns.
    """
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType([*in_fields, T.StructField("meta", MEDIA_META_SCHEMA)])
    passthrough = [f.name for f in in_fields]

    have_pil = _HAVE_PIL  # captured as a plain bool, not a module global

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Self-contained closure: no references to module-level helpers, so
        # cloudpickle ships it entirely by value and the Python worker does
        # not need this package importable (the driver's harness runs our
        # queries under its own SparkSession, whose workers may not have the
        # repo on PYTHONPATH).
        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                n = len(data)
                if have_pil:  # pragma: no cover - real decoder path
                    meta = None
                    try:
                        import io

                        from PIL import Image as _Img

                        with _Img.open(io.BytesIO(data)) as im:
                            meta = {
                                "width": int(im.size[0]),
                                "height": int(im.size[1]),
                                "channels": len(im.getbands()),
                                "n_bytes": n,
                                "decoder": "pil",
                            }
                    except Exception:
                        meta = None  # not an image PIL parses -> stub below
                    # append OUTSIDE the try: a failure during context exit
                    # must not leave a half-recorded row and then also run
                    # the stub (double-append desyncs metas from the batch)
                    if meta is not None:
                        metas.append(meta)
                        continue
                # REAL stdlib PNG decode (no PIL needed): the PNG format is
                # public — 8-byte signature, then an IHDR chunk whose first
                # 8 data bytes are big-endian width/height, then bit depth
                # and color type. The IDAT payload must inflate with zlib,
                # so a truncated/corrupt stream falls through to the stub
                # instead of reporting bogus dimensions.
                if n > 33 and data[:8] == b"\x89PNG\r\n\x1a\n" and data[12:16] == b"IHDR":
                    try:
                        import struct as _struct
                        import zlib as _zlib

                        w, h = _struct.unpack(">II", data[16:24])
                        color_type = data[25]
                        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
                        # walk chunks, inflate the concatenated IDAT stream
                        idat, off = b"", 8
                        while off + 8 <= n:
                            (length,) = _struct.unpack(">I", data[off : off + 4])
                            ctype = data[off + 4 : off + 8]
                            if ctype == b"IDAT":
                                idat += data[off + 8 : off + 8 + length]
                            if ctype == b"IEND":
                                break
                            off += 12 + length  # len + type + data + crc
                        _zlib.decompress(idat)  # raises on corrupt stream
                        metas.append(
                            {
                                "width": int(w),
                                "height": int(h),
                                "channels": channels,
                                "n_bytes": n,
                                "decoder": "png",
                            }
                        )
                        continue
                    except Exception:
                        pass  # malformed PNG -> stub below
                # deterministic stub: dims a pure function of the byte
                # length (SQL_DECODE_STUB mirrors it)
                w, h, c = 16 + (n % 64), 16 + ((n // 64) % 64), 3
                metas.append(
                    {
                        "width": w,
                        "height": h,
                        "channels": c,
                        "n_bytes": n,
                        "decoder": "stub",
                    }
                )
            out = pdf[passthrough].copy()
            out["meta"] = metas
            yield out

    return df.mapInPandas(decode_batches, out_schema)


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


def image_ahash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Image perceptual hash (average-hash) from a REAL stdlib PNG pixel
    decode — the image near-dup primitive of a multimodal training
    pipeline (aHash buckets catch re-encoded / resized duplicates that
    byte digests miss).

    The pixel path is genuinely decoded, not faked: PNG signature → IHDR
    dims → zlib-inflate the concatenated IDAT stream → per-scanline
    filter bytes. Supported surface is 8-bit GRAYSCALE with filter type
    0 on every scanline and dimensions divisible by 8 (the synthetic
    corpus shape); anything else — RGB, sub/up/average/paeth filters,
    interlace, non-PNG bytes — falls back to the labeled ``stub``
    (zero hash) rather than a half-decoded wrong answer. A PIL tier
    would widen the surface; this container has none.

    The hash itself is EXACT integer arithmetic (SQL-oracle-able): the
    8×8 grid cell (i,j) covers pixel block ``[i·h/8, (i+1)·h/8) ×
    [j·w/8, (j+1)·w/8)``; bit = 1 iff ``64·cell_sum >= total_sum``
    (cross-multiplied — no means, no floats). Bits pack MSB-first into
    two unsigned 32-bit halves (AHASH_SCHEMA). Cost: O(pixels) per row
    in an Arrow batch — the decode IS the work; there is no cheaper
    honest path to pixel statistics.
    """
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [*in_fields, T.StructField("ahash", AHASH_SCHEMA)]
    )
    passthrough = [f.name for f in in_fields]

    def ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (see decode_media): ships by value
        import struct as _struct
        import zlib as _zlib

        def decode_gray(data: bytes):
            n = len(data)
            if n <= 33 or data[:8] != b"\x89PNG\r\n\x1a\n" or data[12:16] != b"IHDR":
                return None
            w, h = _struct.unpack(">II", data[16:24])
            bit_depth, color_type = data[24], data[25]
            if bit_depth != 8 or color_type != 0:  # 8-bit grayscale only
                return None
            if w == 0 or h == 0 or w % 8 or h % 8:
                return None
            idat, off = b"", 8
            while off + 8 <= n:
                (length,) = _struct.unpack(">I", data[off : off + 4])
                ctype = data[off + 4 : off + 8]
                if ctype == b"IDAT":
                    idat += data[off + 8 : off + 8 + length]
                if ctype == b"IEND":
                    break
                off += 12 + length
            raw = _zlib.decompress(idat)
            stride = w + 1
            if len(raw) != stride * h:
                return None
            rows = []
            for y in range(h):
                line = raw[y * stride : (y + 1) * stride]
                if line[0] != 0:  # only filter type 0 (None) supported
                    return None
                rows.append(line[1:])
            return w, h, rows

        def ahash_of(w: int, h: int, rows) -> tuple[int, int]:
            cw, ch = w // 8, h // 8
            cells = [[0] * 8 for _ in range(8)]
            total = 0
            for y in range(h):
                ci = y // ch
                row = rows[y]
                crow = cells[ci]
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

        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                dec = None
                try:
                    dec = decode_gray(data)
                except Exception:
                    dec = None
                if dec is None:
                    metas.append(
                        {
                            "width": 0,
                            "height": 0,
                            "phash_hi": 0,
                            "phash_lo": 0,
                            "decoder": "stub",
                        }
                    )
                    continue
                w, h, rows = dec
                hi, lo = ahash_of(w, h, rows)
                metas.append(
                    {
                        "width": int(w),
                        "height": int(h),
                        "phash_hi": int(hi),
                        "phash_lo": int(lo),
                        "decoder": "png",
                    }
                )
            out = pdf[passthrough].copy()
            out["ahash"] = metas
            yield out

    return df.mapInPandas(ahash_batches, out_schema)


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
    container (same stdlib chunk walk as :func:`decode_audio`), decode
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
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [*in_fields, T.StructField("energy", AUDIO_ENERGY_SCHEMA)]
    )
    passthrough = [f.name for f in in_fields]
    win, hop = frame_samples, hop_samples

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (see decode_media): ships by value
        import struct as _struct

        def parse_pcm(data: bytes):
            n = len(data)
            if n < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
                return None
            fmt_ok = False
            body = None
            off = 12
            while off + 8 <= n:
                cid = data[off : off + 4]
                (clen,) = _struct.unpack("<I", data[off + 4 : off + 8])
                chunk = data[off + 8 : off + 8 + clen]
                if cid == b"fmt " and clen >= 16 and len(chunk) >= 16:
                    tag, _ch, _sr, _br, _ba, bps = _struct.unpack(
                        "<HHIIHH", chunk[:16]
                    )
                    if tag != 1 or bps != 16:
                        return None
                    fmt_ok = True
                elif cid == b"data":
                    body = chunk
                off += 8 + clen + (clen & 1)
            if not fmt_ok or body is None:
                return None
            ns = len(body) // 2
            return _struct.unpack("<%dh" % ns, body[: ns * 2])

        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                samples = None
                try:
                    samples = parse_pcm(data)
                except Exception:
                    samples = None
                if samples is None:
                    metas.append(
                        {
                            "n_stream_samples": 0,
                            "n_frames": 0,
                            "total_energy": 0,
                            "peak_frame": None,
                            "peak_energy": None,
                            "decoder": "stub",
                        }
                    )
                    continue
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
                metas.append(
                    {
                        "n_stream_samples": ns,
                        "n_frames": n_frames,
                        "total_energy": acc,
                        "peak_frame": peak_f,
                        "peak_energy": peak_e,
                        "decoder": "wav",
                    }
                )
            out = pdf[passthrough].copy()
            out["energy"] = metas
            yield out

    return df.mapInPandas(energy_batches, out_schema)


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
    pass). Same WAV chunk walk, 16-bit LE PCM decode, and
    window/hop lattice as the census op; exact integer energies via a
    vectorized cumulative sum of squares. Clips shorter than one
    window emit no rows; undecodable payloads emit one labeled stub
    row (frame_idx -1). O(bytes + frames) per blob, no shuffle."""
    if frame_samples < 1 or hop_samples < 1:
        raise ValueError("frame_samples and hop_samples must be >= 1")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("energy", T.LongType()),
            T.StructField("decoder", T.StringType()),
        ]
    )
    win, hop = frame_samples, hop_samples

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (see decode_media): ships by value
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def parse_pcm(data: bytes):
            n = len(data)
            if n < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
                return None
            fmt_ok = False
            body = None
            off = 12
            while off + 8 <= n:
                cid = data[off : off + 4]
                (clen,) = _struct.unpack("<I", data[off + 4 : off + 8])
                chunk = data[off + 8 : off + 8 + clen]
                if cid == b"fmt " and clen >= 16 and len(chunk) >= 16:
                    tag, _ch, _sr, _br, _ba, bps = _struct.unpack(
                        "<HHIIHH", chunk[:16]
                    )
                    if tag != 1 or bps != 16:
                        return None
                    fmt_ok = True
                elif cid == b"data":
                    body = chunk
                off += 8 + clen + (clen & 1)
            if not fmt_ok or body is None:
                return None
            ns = len(body) // 2
            return _np.frombuffer(
                body, dtype="<i2", count=ns
            ).astype(_np.int64)

        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                try:
                    samples = parse_pcm(data)
                except Exception:
                    samples = None
                if samples is None:
                    rows.append((int(doc_id), 0, -1, 0, "stub"))
                    continue
                ns = samples.size
                n_frames = (ns - win) // hop + 1 if ns >= win else 0
                if n_frames == 0:
                    continue
                csq = _np.concatenate(
                    ([0], _np.cumsum(samples * samples))
                )
                starts = _np.arange(n_frames) * hop
                energies = csq[starts + win] - csq[starts]
                rows.extend(
                    (int(doc_id), n_frames, int(f), int(e), "wav")
                    for f, e in enumerate(energies)
                )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(frame_batches, out_schema)


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
    container format is public: a 12-byte ``RIFF``/size/``WAVE`` header,
    then chunks (4-byte id, little-endian uint32 size, data, 1 pad byte
    when the size is odd). The parser walks chunks to the canonical
    ``fmt `` fields (PCM format tag, channels, sample rate, block align,
    bits per sample) and the ``data`` chunk, deriving
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
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [*in_fields, T.StructField("audio", AUDIO_META_SCHEMA)]
    )
    passthrough = [f.name for f in in_fields]

    def audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (see decode_media): ships by value, no
        # package import needed on the Python worker
        import struct as _struct

        def parse(data: bytes):
            n = len(data)
            if n < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
                return None
            fmt = None
            data_len = None
            off = 12
            while off + 8 <= n:
                cid = data[off : off + 4]
                (clen,) = _struct.unpack("<I", data[off + 4 : off + 8])
                body = data[off + 8 : off + 8 + clen]
                if cid == b"fmt " and clen >= 16 and len(body) >= 16:
                    tag, ch, sr, _br, ba, bps = _struct.unpack(
                        "<HHIIHH", body[:16]
                    )
                    if tag != 1:  # only canonical PCM
                        return None
                    fmt = (ch, sr, ba, bps)
                elif cid == b"data":
                    data_len = clen
                # chunks pad to even length (RIFF rule)
                off += 8 + clen + (clen & 1)
            if fmt is None or data_len is None:
                return None
            ch, sr, ba, bps = fmt
            if ba == 0 or sr == 0:
                return None
            n_samples = data_len // ba
            return {
                "sample_rate": int(sr),
                "channels": int(ch),
                "bits_per_sample": int(bps),
                "n_samples": int(n_samples),
                "duration_micros": int(n_samples * 1_000_000 // sr),
                "n_bytes": n,
                "decoder": "wav",
            }

        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                meta = None
                try:
                    meta = parse(data)
                except Exception:
                    meta = None
                if meta is None:
                    # deterministic stub (as in decode_media): every value
                    # a pure function of the byte length
                    nb = len(data)
                    sr = 16000
                    meta = {
                        "sample_rate": sr,
                        "channels": 1,
                        "bits_per_sample": 16,
                        "n_samples": nb // 2,
                        "duration_micros": (nb // 2) * 1_000_000 // sr,
                        "n_bytes": nb,
                        "decoder": "stub",
                    }
                metas.append(meta)
            out = pdf[passthrough].copy()
            out["audio"] = metas
            yield out

    return df.mapInPandas(audio_batches, out_schema)


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
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.LongType()),
            T.StructField("frame_digest", T.StringType()),
        ]
    )

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                step = max(1, len(data) // n_frames)
                for i in range(n_frames):
                    chunk = data[i * step : (i + 1) * step]
                    rows.append(
                        {
                            "media_id": int(media_id),
                            "frame_idx": i,
                            "frame_bytes": len(chunk),
                            "frame_digest": hashlib.sha256(chunk).hexdigest(),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(frame_batches, out_schema)


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
    """Build the self-contained GIF decode function (captured by value in
    the ``mapInPandas`` closures below — cloudpickle ships nested
    functions wholesale, so Python workers never need this package
    importable; see ``decode_media`` for the convention)."""
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
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            *GIF_FRAME_SCHEMA_FIELDS,
        ]
    )
    dec = _make_gif_decoder()

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        cols = [f.name for f in out_schema.fields]
        # position weights 1..n hoisted once and sliced per frame —
        # a fresh arange per tiny frame dominated the post-decode cost
        weights = _np.arange(1, 1, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                try:
                    res = dec(data)
                except Exception:
                    res = None
                if res is None:
                    rows.append(
                        (int(media_id), 0, -1, 0, 0, 0, 0, 0, "stub")
                    )
                    continue
                _w, _h, frames = res
                nf = len(frames)
                for fi, (fw, fh, delay, luma) in enumerate(frames):
                    # numpy for the stats: the LZW decode is irreducibly
                    # per-byte Python, the arithmetic after it is not
                    arr = _np.frombuffer(luma, dtype=_np.uint8).astype(
                        _np.int64
                    )
                    if weights.size < arr.size:
                        weights = _np.arange(
                            1, arr.size + 1, dtype=_np.int64
                        )
                    psum = int(arr.sum())
                    pck = int(_np.dot(arr, weights[: arr.size]))
                    rows.append(
                        (
                            int(media_id), nf, fi, fw, fh, delay,
                            psum, pck, "gif",
                        )
                    )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(frame_batches, out_schema)


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
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("pix_sum", T.LongType()),
            T.StructField("thumb_checksum", T.LongType()),
            T.StructField("decoder", T.StringType()),
        ]
    )
    dec = _make_gif_decoder()
    kk = int(k)

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                try:
                    res = dec(data)
                except Exception:
                    res = None
                ok = (
                    res is not None
                    and res[2]
                    and all(
                        fw % 8 == 0 and fh % 8 == 0 and fw and fh
                        for fw, fh, _d, _l in res[2]
                    )
                )
                if not ok:
                    rows.append((int(media_id), 0, -1, 0, 0, 0, 0, "stub"))
                    continue
                _w, _h, frames = res
                nf = len(frames)
                if nf == 1 or kk == 1:
                    picks = [0]
                else:
                    picks = sorted(
                        {i * (nf - 1) // (kk - 1) for i in range(kk)}
                    )
                for fi in picks:
                    fw, fh, _delay, luma = frames[fi]
                    cw, ch_ = fw // 8, fh // 8
                    # 8×8 block sums via reshape (dims divisible by 8 —
                    # guarded above); stats numpy, decode stays Python
                    grid = (
                        _np.frombuffer(luma, dtype=_np.uint8)
                        .astype(_np.int64)
                        .reshape(8, ch_, 8, cw)
                    )
                    cells = grid.sum(axis=(1, 3)).reshape(64)
                    psum = int(cells.sum())
                    tck = int(
                        (cells * _np.arange(1, 65)).sum()
                    )
                    rows.append(
                        (int(media_id), nf, fi, fw, fh, psum, tck, "gif")
                    )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(sample_batches, out_schema)


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
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("dhash56", T.LongType()),
            T.StructField("decoder", T.StringType()),
        ]
    )
    dec = _make_gif_decoder()

    def dhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        cols = [f.name for f in out_schema.fields]
        bit_weights = _np.left_shift(
            _np.int64(1), _np.arange(56, dtype=_np.int64)
        )
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                try:
                    res = dec(data)
                except Exception:
                    res = None
                ok = (
                    res is not None
                    and res[2]
                    and all(
                        fw % 8 == 0 and fh % 8 == 0 and fw and fh
                        for fw, fh, _d, _l in res[2]
                    )
                )
                if not ok:
                    rows.append((int(media_id), 0, -1, 0, 0, 0, "stub"))
                    continue
                _w, _h, frames = res
                nf = len(frames)
                for fi, (fw, fh, _delay, luma) in enumerate(frames):
                    cw, ch_ = fw // 8, fh // 8
                    cells = (
                        _np.frombuffer(luma, dtype=_np.uint8)
                        .astype(_np.int64)
                        .reshape(8, ch_, 8, cw)
                        .sum(axis=(1, 3))
                    )
                    bits = (cells[:, 1:] > cells[:, :-1]).reshape(56)
                    fp = int(_np.dot(bits.astype(_np.int64), bit_weights))
                    rows.append(
                        (int(media_id), nf, fi, fw, fh, fp, "gif")
                    )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(dhash_batches, out_schema)


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
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("src_width", T.IntegerType()),
            T.StructField("src_height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("thumb_checksum", T.LongType()),
            T.StructField("decoder", T.StringType()),
        ]
    )
    dec = _make_gif_decoder()
    sz = int(size)

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                try:
                    res = dec(data, 1)  # LZW-decode frame 0 only
                except Exception:
                    res = None
                if res is None or not res[2]:
                    rows.append((int(media_id), 0, 0, 0, 0, "stub"))
                    continue
                _w, _h, frames = res
                fw, fh, _delay, luma = frames[0]
                arr = _np.frombuffer(luma, dtype=_np.uint8).astype(_np.int64)
                sx = (_np.arange(sz) * fw) // sz
                sy = (_np.arange(sz) * fh) // sz
                picked = arr[(sy[:, None] * fw + sx[None, :]).reshape(-1)]
                ck = int((picked * _np.arange(1, sz * sz + 1)).sum())
                rows.append(
                    (int(media_id), fw, fh, len(frames), ck, "gif")
                )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(resize_batches, out_schema)


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
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [*in_fields, T.StructField("haar", AUDIO_HAAR_SCHEMA)]
    )
    passthrough = [f.name for f in in_fields]
    nn = int(n_samples)
    if nn & (nn - 1) or nn <= 0:
        raise ValueError("n_samples must be a power of two")
    n_levels = nn.bit_length() - 1

    def haar_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (see decode_media): ships by value
        import struct as _struct

        def parse_stream(data: bytes):
            n = len(data)
            if n < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
                return None
            off = 12
            bits = None
            body = None
            while off + 8 <= n:
                cid = data[off : off + 4]
                (clen,) = _struct.unpack("<I", data[off + 4 : off + 8])
                payload = data[off + 8 : off + 8 + clen]
                if cid == b"fmt " and clen >= 16:
                    (_fmt, _ch, _sr, _br, _ba, bits) = _struct.unpack(
                        "<HHIIHH", payload[:16]
                    )
                elif cid == b"data":
                    body = payload
                off += 8 + clen + (clen & 1)  # RIFF even-padding rule
            if bits != 16 or body is None:
                return None
            return body

        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                try:
                    body = parse_stream(data)
                except Exception:
                    body = None
                nss = len(body) // 2 if body is not None else 0
                if body is None or nss < nn:
                    metas.append(
                        {
                            "n_stream_samples": nss,
                            "approx_sq": 0,
                            "band_1": 0, "band_2": 0, "band_3": 0,
                            "band_4": 0, "band_5": 0, "band_6": 0,
                            "decoder": "stub",
                        }
                    )
                    continue
                a = list(
                    _struct.unpack(
                        "<%dh" % nn, body[: 2 * nn]
                    )
                )
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
                metas.append(
                    {
                        "n_stream_samples": nss,
                        "approx_sq": a[0] * a[0],
                        "band_1": bands[0], "band_2": bands[1],
                        "band_3": bands[2], "band_4": bands[3],
                        "band_5": bands[4], "band_6": bands[5],
                        "decoder": "wav",
                    }
                )
            out = pdf[passthrough].copy()
            out["haar"] = metas
            yield out

    return df.mapInPandas(haar_batches, out_schema)


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
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [*in_fields, T.StructField("dhash", AHASH_SCHEMA)]
    )
    passthrough = [f.name for f in in_fields]

    def dhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (see decode_media): ships by value
        import struct as _struct
        import zlib as _zlib

        def decode_gray(data: bytes):
            n = len(data)
            if n <= 33 or data[:8] != b"\x89PNG\r\n\x1a\n" or data[12:16] != b"IHDR":
                return None
            w, h = _struct.unpack(">II", data[16:24])
            bit_depth, color_type = data[24], data[25]
            if bit_depth != 8 or color_type != 0:
                return None
            if w == 0 or h == 0 or w % 8 or h % 8:
                return None
            idat, off = b"", 8
            while off + 8 <= n:
                (length,) = _struct.unpack(">I", data[off : off + 4])
                ctype = data[off + 4 : off + 8]
                if ctype == b"IDAT":
                    idat += data[off + 8 : off + 8 + length]
                if ctype == b"IEND":
                    break
                off += 12 + length
            raw = _zlib.decompress(idat)
            stride = w + 1
            if len(raw) != stride * h:
                return None
            rows = []
            for y in range(h):
                line = raw[y * stride : (y + 1) * stride]
                if line[0] != 0:
                    return None
                rows.append(line[1:])
            return w, h, rows

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

        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                try:
                    dec = decode_gray(data)
                except Exception:
                    dec = None
                if dec is None:
                    metas.append(
                        {
                            "width": 0,
                            "height": 0,
                            "phash_hi": 0,
                            "phash_lo": 0,
                            "decoder": "stub",
                        }
                    )
                    continue
                w, h, rows = dec
                hi, lo = dhash_of(w, h, rows)
                metas.append(
                    {
                        "width": int(w),
                        "height": int(h),
                        "phash_hi": int(hi),
                        "phash_lo": int(lo),
                        "decoder": "png",
                    }
                )
            out = pdf[passthrough].copy()
            out["dhash"] = metas
            yield out

    return df.mapInPandas(dhash_batches, out_schema)


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
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [*in_fields, T.StructField("decimated", AUDIO_DECIMATE_SCHEMA)]
    )
    passthrough = [f.name for f in in_fields]
    ff = int(factor)
    if ff < 2:
        raise ValueError("factor must be >= 2")

    def decim_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (see decode_media): ships by value
        import struct as _struct

        import numpy as _np

        def parse_stream(data: bytes):
            n = len(data)
            if n < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
                return None
            off = 12
            bits = None
            body = None
            while off + 8 <= n:
                cid = data[off : off + 4]
                (clen,) = _struct.unpack("<I", data[off + 4 : off + 8])
                payload = data[off + 8 : off + 8 + clen]
                if cid == b"fmt " and clen >= 16:
                    bits = _struct.unpack("<HHIIHH", payload[:16])[5]
                elif cid == b"data":
                    body = payload
                off += 8 + clen + (clen & 1)  # RIFF even-padding rule
            if bits != 16 or body is None:
                return None
            return body

        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                try:
                    body = parse_stream(data)
                except Exception:
                    body = None
                if body is None or len(body) < 2 * ff:
                    metas.append(
                        {
                            "n_stream_samples": (
                                len(body) // 2 if body is not None else 0
                            ),
                            "n_out_samples": 0,
                            "sum_out": 0,
                            "checksum_out": 0,
                            "decoder": "stub",
                        }
                    )
                    continue
                arr = _np.frombuffer(
                    body[: (len(body) // 2) * 2], dtype="<i2"
                ).astype(_np.int64)
                nss = arr.size
                n_out = nss // ff
                folded = arr[: n_out * ff].reshape(n_out, ff).sum(axis=1)
                y = _np.floor_divide(folded, ff)  # floor, not truncation
                metas.append(
                    {
                        "n_stream_samples": int(nss),
                        "n_out_samples": int(n_out),
                        "sum_out": int(y.sum()),
                        "checksum_out": int(
                            (y * _np.arange(1, n_out + 1)).sum()
                        ),
                        "decoder": "wav",
                    }
                )
            out = pdf[passthrough].copy()
            out["decimated"] = metas
            yield out

    return df.mapInPandas(decim_batches, out_schema)
