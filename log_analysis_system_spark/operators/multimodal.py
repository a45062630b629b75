"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: media ride as ``binary`` columns
next to a typed metadata struct; decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes stream executor-side in columnar
batches (never through the driver, never row-at-a-time Python).

The codec here is REAL for binary Netpbm (PPM ``P6`` / PGM ``P5``) — a
pure-Python header parse + NumPy pixel statistics, no external image
libraries needed. Payloads in any other format fall back to byte-level
features with null image fields: that fallback is the seam where a full
codec stack (Pillow/libvips/ffmpeg) would slot in on a real cluster, with
the same batch shape and schema.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Promote each document to a multimodal record: UTF-8 payload bytes as
    an opaque ``binary`` column plus a typed metadata struct (the shape a
    real ingest would carry for images/audio)."""
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        blob.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(blob).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


# --------------------------------------------------------------- PPM codec
def make_ppm(doc_id: int) -> bytes:
    """Deterministic tiny P6 image for doc_id: width 2+id%3, height 2+id%2,
    pixel i = (doc_id*31 + i) % 256. Mirrors the analytic oracle SQL."""
    w, h = 2 + doc_id % 3, 2 + doc_id % 2
    header = f"P6\n{w} {h}\n255\n".encode()
    pixels = bytes((doc_id * 31 + i) % 256 for i in range(w * h * 3))
    return header + pixels


def _read_pnm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a binary Netpbm header: magic, then whitespace-separated
    width/height/maxval with '#' comments; returns (w, h, maxval,
    pixel_offset). Raises ValueError on malformed input."""
    pos, tokens = 2, []
    n = len(payload)
    while len(tokens) < 3:
        while pos < n and payload[pos] in b" \t\r\n":
            pos += 1
        if pos < n and payload[pos] == ord("#"):
            while pos < n and payload[pos] != ord("\n"):
                pos += 1
            continue
        start = pos
        while pos < n and payload[pos] not in b" \t\r\n":
            pos += 1
        if pos == start:
            raise ValueError("truncated netpbm header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raw pixels
    w, h, maxval = tokens
    if w <= 0 or h <= 0:
        raise ValueError(f"bad netpbm dimensions {w}x{h}")
    if maxval > 255:
        raise ValueError("16-bit netpbm samples not supported")
    return w, h, maxval, pos


def decode_image(payload: bytes) -> dict:
    """Feature-extract one payload. Binary Netpbm (P6 RGB / P5 gray) is
    decoded for real — header parse + per-channel pixel means; any other
    payload yields byte-level features with null image fields (the seam
    for a full codec stack). A NULL payload (missing blob — a real ingest
    condition at corpus scale) yields an all-null feature row, matching
    the SQL oracle's null propagation through octet_length/hex."""
    if payload is None:
        return {
            "n_bytes": None, "first_byte": None, "last_byte": None,
            "width": None, "height": None, "channels": None,
            "mean_c0": None, "mean_c1": None, "mean_c2": None,
        }
    payload = bytes(payload)
    out = {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else None,
        "last_byte": payload[-1] if payload else None,
        "width": None,
        "height": None,
        "channels": None,
        "mean_c0": None,
        "mean_c1": None,
        "mean_c2": None,
    }
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        return out
    w, h, _maxval, off = _read_pnm_header(payload)
    ch = 3 if magic == b"P6" else 1
    count = w * h * ch
    if len(payload) - off < count:
        raise ValueError("netpbm pixel data truncated")
    px = np.frombuffer(payload, dtype=np.uint8, count=count, offset=off)
    means = px.reshape(-1, ch).mean(axis=0, dtype=np.float64)
    out.update(width=w, height=h, channels=ch, mean_c0=float(means[0]))
    if ch == 3:
        out.update(mean_c1=float(means[1]), mean_c2=float(means[2]))
    return out


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("first_byte", IntegerType()),
        StructField("last_byte", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_c0", DoubleType()),
        StructField("mean_c1", DoubleType()),
        StructField("mean_c2", DoubleType()),
    ]
)

_FEATURE_COLS = [f.name for f in FEATURE_SCHEMA.fields[2:]]


def attach_ppm_payload(docs: DataFrame) -> DataFrame:
    """Synthetic-image ingest: a deterministic P6 payload per doc_id
    (``make_ppm``), generated executor-side in Arrow batches. Exercises the
    real decode path end-to-end with an analytically-computable oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [make_ppm(int(d)) for d in pdf["doc_id"]],
                }
            )

    raw = docs.select("doc_id").mapInPandas(gen, "doc_id long, payload binary")
    return raw.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.octet_length("payload").alias("n_bytes"),
            F.lit("synthetic").alias("origin"),
        ).alias("meta"),
    )


def extract_features(multimodal: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Each ``mapInPandas`` batch holds a columnar block of blobs; Netpbm
    payloads are decoded (pure Python + NumPy), everything else gets
    byte-level features — same signature and batch shape a real
    model/codec stage would use.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    feats.append(decode_image(p))
                except ValueError as exc:
                    raise ValueError(f"doc_id={did}: {exc}") from exc
            out = pd.DataFrame(feats, columns=_FEATURE_COLS)
            out.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            out.insert(1, "mime", [m["mime"] for m in pdf["meta"]])
            yield out

    return (
        multimodal.mapInPandas(run, FEATURE_SCHEMA)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------- WAV codec
AUDIO_SAMPLE_RATE = 8000


def make_wav(doc_id: int) -> bytes:
    """Deterministic tiny RIFF/WAVE PCM16 mono clip for doc_id: 8 kHz,
    n = 16 + doc_id % 17 samples, sample i = ((doc_id*131 + i*17) % 2001)
    - 1000. Mirrors the analytic oracle SQL."""
    import struct

    sr = AUDIO_SAMPLE_RATE
    n = 16 + doc_id % 17
    samples = [((doc_id * 131 + i * 17) % 2001) - 1000 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_audio(payload: bytes) -> dict:
    """Feature-extract one audio payload. RIFF/WAVE PCM16 mono is decoded
    for real — chunk walk (unknown chunks skipped, word-aligned) + NumPy
    sample statistics; any other payload yields byte-level features with
    null audio fields (the codec-stack seam, same as decode_image).

    Determinism note: every intermediate (sample squares, their sums) is
    an exact integer below 2^53, so float64 statistics here equal the
    DuckDB oracle's integer-arithmetic results bit-for-bit before the
    final IEEE sqrt/divide.
    """
    import struct

    if payload is None:  # missing blob -> all-null feature row (as image)
        return {
            "n_bytes": None, "first_byte": None, "last_byte": None,
            "sample_rate": None, "n_samples": None, "duration_sec": None,
            "mean_sample": None, "rms": None, "peak": None,
        }
    payload = bytes(payload)
    out = {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else None,
        "last_byte": payload[-1] if payload else None,
        "sample_rate": None,
        "n_samples": None,
        "duration_sec": None,
        "mean_sample": None,
        "rms": None,
        "peak": None,
    }
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return out
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"truncated fmt chunk ({len(body)} bytes)")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("RIFF/WAVE missing fmt or data chunk")
    audio_format, channels, sr, _brate, _balign, bits = fmt
    if audio_format != 1 or bits != 16 or channels != 1:
        raise ValueError(
            f"unsupported WAV (format={audio_format}, bits={bits}, "
            f"channels={channels}); only PCM16 mono is decoded here"
        )
    if len(data) % 2:
        raise ValueError(f"odd-length PCM16 data chunk ({len(data)} bytes)")
    a = np.frombuffer(data, dtype="<i2").astype(np.float64)
    if a.size == 0:
        raise ValueError("empty data chunk")
    out.update(
        sample_rate=sr,
        n_samples=int(a.size),
        duration_sec=float(a.size) / sr,
        mean_sample=float(a.sum() / a.size),
        rms=float(np.sqrt((a * a).sum() / a.size)),
        peak=int(np.abs(a).max()),
    )
    return out


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("first_byte", IntegerType()),
        StructField("last_byte", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_sec", DoubleType()),
        StructField("mean_sample", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
    ]
)

_AUDIO_COLS = [f.name for f in AUDIO_SCHEMA.fields[2:]]


def attach_wav_payload(docs: DataFrame) -> DataFrame:
    """Synthetic-audio ingest: a deterministic PCM16 WAV per doc_id
    (``make_wav``), generated executor-side in Arrow batches — the audio
    sibling of attach_ppm_payload, with an analytically-computable oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [make_wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    raw = docs.select("doc_id").mapInPandas(gen, "doc_id long, payload binary")
    return raw.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.octet_length("payload").alias("n_bytes"),
            F.lit("synthetic").alias("origin"),
        ).alias("meta"),
    )


def extract_audio_features(multimodal: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction (duration / mean / RMS /
    peak) over binary payloads — same batch shape as extract_features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    feats.append(decode_audio(p))
                except ValueError as exc:
                    raise ValueError(f"doc_id={did}: {exc}") from exc
            out = pd.DataFrame(feats, columns=_AUDIO_COLS)
            out.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            out.insert(1, "mime", [m["mime"] for m in pdf["meta"]])
            yield out

    return multimodal.mapInPandas(run, AUDIO_SCHEMA)


# --------------------------------------------------------------- AVI codec
# REAL RIFF/AVI container with uncompressed 'DIB ' video frames (24-bit
# BGR bottom-up rows, 4-byte-aligned — the BI_RGB AVI layout every media
# player and ffmpeg open natively). Writer and parser are pure Python +
# NumPy: an uncompressed-DIB AVI needs no codec library, so unlike the
# earlier synthetic 'VID0' stand-in this is a standards-conformant format
# end to end (structure: RIFF('AVI ') -> LIST(hdrl){avih,
# LIST(strl){strh,strf}} -> LIST(movi){'00db' frames} -> idx1). The
# compressed-codec seam (MJPEG/H.264 handlers) slots into
# ``_frames_from_avi``'s per-frame decode unchanged.
VIDEO_FPS = 10
VIDEO_FRAME_STRIDE = 2
VIDEO_MIME = "video/x-msvideo"
_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10


def _dib_stride(w: int) -> int:
    """Bytes per DIB row: 24-bit pixels, rows padded to 4-byte alignment."""
    return ((w * 3 + 3) // 4) * 4


def make_video(doc_id: int) -> bytes:
    """Deterministic tiny AVI clip for doc_id: width 2+id%2, height 2,
    4+id%3 frames at 10 fps; RGB frame f pixel i = (id*17 + f*7 + i) % 256
    (top-down row-major, channel-interleaved — mirrors the analytic
    oracle SQL). The pixel recipe is DIB-encoded (BGR, bottom-up, padded
    rows) into real '00db' movi chunks with a full hdrl header pair and
    idx1 index; total file size is the closed form
    232 + nf * (24 + 2 * stride) the oracle recomputes."""
    import struct

    w, h, nf = 2 + doc_id % 2, 2, 4 + doc_id % 3
    stride, fps = _dib_stride(w), VIDEO_FPS
    fb = stride * h
    frames = []
    for f in range(nf):
        rgb = bytes(
            (doc_id * 17 + f * 7 + i) % 256 for i in range(w * h * 3)
        )
        rows = []
        for y in range(h - 1, -1, -1):  # DIB rows are bottom-up
            row = bytearray()
            for x in range(w):
                base = (y * w + x) * 3
                row += bytes((rgb[base + 2], rgb[base + 1], rgb[base]))
            row += b"\x00" * (stride - len(row))
            rows.append(bytes(row))
        frames.append(b"".join(rows))

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        fb * fps,          # dwMaxBytesPerSec
        0,                 # dwPaddingGranularity
        _AVIF_HASINDEX,    # dwFlags
        nf, 0, 1, fb,      # totalFrames, initialFrames, streams, bufSize
        w, h, 0, 0, 0, 0,  # width, height, reserved[4]
    )
    strh = b"vids" + b"DIB " + struct.pack(
        "<IHHIIIIIIII4h",
        0, 0, 0, 0,        # dwFlags, wPriority, wLanguage, dwInitialFrames
        1, fps,            # dwScale, dwRate -> fps = rate/scale
        0, nf, fb, 0, 0,   # start, length, bufSize, quality, sampleSize
        0, 0, w, h,        # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, fb, 0, 0, 0, 0
    )  # BITMAPINFOHEADER, biCompression=0 (BI_RGB)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    hdrl = lst(
        b"hdrl", chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    )
    movi_body = b"".join(chunk(b"00db", fr) for fr in frames)
    movi = lst(b"movi", movi_body)
    # idx1 offsets are relative to the position of the 'movi' fourcc
    idx = b"".join(
        b"00db" + struct.pack("<III", _AVIIF_KEYFRAME, 4 + f * (8 + fb), fb)
        for f in range(nf)
    )
    return chunk(b"RIFF", b"AVI " + hdrl + movi + chunk(b"idx1", idx))


def _walk_riff(payload: bytes, pos: int, end: int):
    """Yield (fourcc, list_type_or_None, body_start, body_size) for each
    chunk in [pos, end); raises ValueError when a declared size runs past
    the payload (truncation)."""
    import struct

    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > end:
            raise ValueError(
                f"chunk {cid!r} length mismatch: declares {size}B, "
                f"{end - pos - 8}B remain"
            )
        if cid == b"LIST":
            yield cid, payload[pos + 8 : pos + 12], pos + 12, size - 4
        else:
            yield cid, None, pos + 8, size
        pos += 8 + size + (size % 2)  # chunks are word-aligned


def _frames_from_avi(payload: bytes):
    """Parse one RIFF/AVI payload into (frames nf x h x w x 3 RGB float64,
    fps). Only a single uncompressed 24-bit DIB video stream is decoded
    here — the compressed-handler seam: a second stream header raises, and
    only stream-0 frame chunks (``00db``/``00dc``) are read. Raises
    ValueError on malformed input."""
    import struct

    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    if 8 + riff_size > len(payload):
        raise ValueError(
            f"RIFF length mismatch: declares {riff_size}B, "
            f"payload has {len(payload) - 8}B"
        )
    dims = None  # (w, h) from strf
    fps = None
    n_streams = 0
    raw_frames: list[bytes] = []
    for cid, ltype, start, size in _walk_riff(payload, 12, 8 + riff_size):
        if cid == b"LIST" and ltype == b"hdrl":
            for c2, l2, s2, z2 in _walk_riff(payload, start, start + size):
                if c2 == b"LIST" and l2 == b"strl":
                    n_streams += 1
                    if n_streams > 1:
                        raise ValueError(
                            "AVI has more than one stream; only a single "
                            "video stream is decoded"
                        )
                    for c3, _, s3, z3 in _walk_riff(payload, s2, s2 + z2):
                        if c3 == b"strh":
                            if payload[s3 : s3 + 4] != b"vids":
                                raise ValueError(
                                    "first stream is not video ('vids')"
                                )
                            scale, rate = struct.unpack_from(
                                "<II", payload, s3 + 20
                            )
                            if scale == 0 or rate == 0 or rate % scale:
                                raise ValueError(
                                    f"bad fps rate/scale {rate}/{scale}: "
                                    "must be a positive integral ratio"
                                )
                            fps = rate // scale
                        elif c3 == b"strf":
                            if dims is not None:
                                raise ValueError("AVI stream has a second strf")
                            if z3 < 40:
                                raise ValueError("truncated strf header")
                            (_, w, h, _, bits, comp) = struct.unpack_from(
                                "<IiiHHI", payload, s3
                            )
                            if bits != 24 or comp != 0:
                                raise ValueError(
                                    f"unsupported AVI codec (bits={bits}, "
                                    f"compression={comp}); only "
                                    "uncompressed 24-bit DIB is decoded"
                                )
                            if w <= 0 or h == 0:
                                raise ValueError(
                                    f"bad DIB dimensions {w}x{h}"
                                )
                            # negative biHeight is the legal TOP-DOWN DIB
                            # layout; positive is the usual bottom-up
                            dims = (w, abs(h), h < 0)
        elif cid == b"LIST" and ltype == b"movi":
            for c2, _, s2, z2 in _walk_riff(payload, start, start + size):
                if c2 in (b"00db", b"00dc"):
                    raw_frames.append(payload[s2 : s2 + z2])
    if dims is None or fps is None:
        raise ValueError("AVI missing strh/strf stream headers")
    if not raw_frames:
        raise ValueError("AVI movi list contains no frames")
    w, h, top_down = dims
    stride = _dib_stride(w)
    for f, fr in enumerate(raw_frames):
        if len(fr) != stride * h:
            raise ValueError(
                f"frame {f} length mismatch: {len(fr)}B != stride*h "
                f"{stride * h}B"
            )
    body = np.frombuffer(b"".join(raw_frames), dtype=np.uint8)
    rows = body.reshape(len(raw_frames), h, stride)[:, :, : w * 3]
    bgr = rows.reshape(len(raw_frames), h, w, 3)
    if not top_down:
        bgr = bgr[:, ::-1]  # bottom-up rows -> top-down
    return bgr[..., ::-1].astype(np.float64), fps  # BGR -> RGB


def decode_video(payload: bytes, stride: int = VIDEO_FRAME_STRIDE) -> dict:
    """Frame-sample one AVI clip: parse the RIFF container, decode the
    DIB frames, walk every ``stride``-th frame, emit per-channel means
    over the sampled frames. Raises ValueError (typed contract) on
    malformed payloads."""
    if payload is None:
        raise ValueError("null payload")  # typed, not a bytes(None) crash
    payload = bytes(payload)
    frames, fps = _frames_from_avi(payload)
    nf, h, w, _ = frames.shape
    sampled = frames[::stride]
    means = sampled.reshape(-1, 3).mean(axis=0)
    return {
        "n_bytes": len(payload),
        "width": int(w),
        "height": int(h),
        "n_frames": int(nf),
        "fps": int(fps),
        "duration_sec": nf / fps,
        "n_sampled": int(sampled.shape[0]),
        "mean_c0": float(means[0]),
        "mean_c1": float(means[1]),
        "mean_c2": float(means[2]),
    }


VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", IntegerType()),
        StructField("duration_sec", DoubleType()),
        StructField("n_sampled", IntegerType()),
        StructField("mean_c0", DoubleType()),
        StructField("mean_c1", DoubleType()),
        StructField("mean_c2", DoubleType()),
    ]
)

_VIDEO_COLS = [f.name for f in VIDEO_SCHEMA.fields[2:]]


def attach_video_payload(docs: DataFrame) -> DataFrame:
    """Synthetic-video ingest: a deterministic DIB-in-AVI clip per doc_id,
    generated executor-side in Arrow batches (bytes never transit the
    driver) — the video sibling of attach_ppm_payload/attach_wav_payload."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [make_video(int(d)) for d in pdf["doc_id"]],
                }
            )

    raw = docs.select("doc_id").mapInPandas(gen, "doc_id long, payload binary")
    return raw.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit(VIDEO_MIME).alias("mime"),
            F.octet_length("payload").alias("n_bytes"),
            F.lit("synthetic").alias("origin"),
        ).alias("meta"),
    )


def extract_video_features(multimodal: DataFrame) -> DataFrame:
    """Arrow-batched strided frame sampling over binary clips — same batch
    shape as the image/audio extractors; a real decoder drops into
    ``decode_video``'s seam unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    feats.append(decode_video(p))
                except ValueError as exc:
                    raise ValueError(f"doc_id={did}: {exc}") from exc
            out = pd.DataFrame(feats, columns=_VIDEO_COLS)
            out.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            out.insert(1, "mime", [m["mime"] for m in pdf["meta"]])
            yield out

    return multimodal.mapInPandas(run, VIDEO_SCHEMA).orderBy("doc_id")
