"""Multimodal column plumbing (LLM-pipeline extension surface).

Images/audio/video ride through the engine as opaque `binary` columns
plus typed metadata. The Spark-side mechanics are fully real — schema,
Arrow-batched `mapInPandas`, partition-preserving flow. Formats whose
container is header + raw samples are decoded FOR REAL with
numpy-only parsers (BMP 24/32-bit BI_RGB, WAV PCM 8/16-bit), and PNG
(8-bit RGB/RGBA, non-interlaced) decodes for real too — its only
compression is DEFLATE, which the stdlib `zlib` provides; the filter
reconstruction (None/Sub/Up/Average/Paeth) is implemented here in
numpy. Entropy-coded codecs (JPEG/MP3/H.264) genuinely need external
libraries the environment doesn't ship, so `decode_image` on those
raises NotImplementedError and the deterministic byte-level
extractors keep the pipeline end-to-end testable.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from hbase_compact_spark.shipping import ensure_package_on_executors

PAYLOAD_META_SCHEMA = "doc_id long, n_bytes long, payload_md5 string"


# --------------------------------------------------------- BMP codec
def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24/32-bit BI_RGB BMP into an (H, W, 3)
    uint8 RGB array — pure struct/numpy, no imaging library. Raises
    ValueError on anything that isn't a plain BMP."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    bytes_pp = bpp // 8
    stride = (width * bytes_pp + 3) & ~3  # rows pad to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=data_offset
    ).reshape(height, stride)
    px = rows[:, : width * bytes_pp].reshape(height, width, bytes_pp)
    rgb = px[:, :, 2::-1]  # stored BGR(A) -> RGB
    if not top_down:
        rgb = rgb[::-1]  # bottom-up storage order
    return np.ascontiguousarray(rgb)


def encode_bmp(rgb: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit BI_RGB BMP
    (bottom-up) — the test/e2e twin of decode_bmp."""
    h, w, _ = rgb.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
    header = struct.pack(
        "<2sIHHI" + "IiiHHIIiiII",
        b"BM", 54 + body.size, 0, 0, 54,
        40, w, h, 1, 24, 0, body.size, 2835, 2835, 0, 0,
    )
    return header + body.tobytes()


# --------------------------------------------------------- WAV codec
def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM 8/16-bit RIFF/WAVE payload into (sample_rate,
    (n_samples, n_channels) int array) — pure struct/numpy chunk walk,
    no audio library. Raises ValueError on non-PCM."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    dtype = np.uint8 if bits == 8 else np.dtype("<i2")
    samples = np.frombuffer(data, dtype=dtype)
    if bits == 8:  # 8-bit WAV is unsigned, center it
        samples = samples.astype(np.int16) - 128
    n = len(samples) - len(samples) % n_channels
    return sample_rate, samples[:n].reshape(-1, n_channels)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode an (n_samples, n_channels) int16 array as PCM 16-bit
    RIFF/WAVE — the test/e2e twin of decode_wav."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n_channels = samples.shape[1]
    body = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * n_channels * 2, n_channels * 2, 16,
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


# --------------------------------------------------------- PNG codec
PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8-bit RGB/RGBA non-interlaced PNG into an (H, W, 3)
    uint8 RGB array — stdlib zlib for the DEFLATE stream, numpy for
    the per-row filter reconstruction (filters 0-4: None, Sub, Up,
    Average, Paeth per the PNG spec §9). No imaging library. Raises
    ValueError on anything outside that profile."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or color not in (2, 6) or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}, interlace={interlace})"
        )
    ch = 3 if color == 2 else 4
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width * ch
    rows = raw.reshape(height, stride + 1)
    out = np.zeros((height, width, ch), dtype=np.int32)
    prev = np.zeros((width, ch), dtype=np.int32)
    for y in range(height):
        ftype = rows[y, 0]
        line = rows[y, 1:].astype(np.int32).reshape(width, ch)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub: per-lane running sum mod 256
            cur = np.cumsum(line, axis=0) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (3, 4):  # Average/Paeth: sequential in x,
            cur = np.zeros_like(line)  # vectorized across channels
            for x in range(width):
                a = cur[x - 1] if x else np.zeros(ch, np.int32)
                b = prev[x]
                if ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = prev[x - 1] if x else np.zeros(ch, np.int32)
                    pa = np.abs(b - c)
                    pb = np.abs(a - c)
                    pc = np.abs(a + b - 2 * c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    px = out.astype(np.uint8)
    return np.ascontiguousarray(px[:, :, :3])  # drop alpha if present


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray, *, filter_type: int = 0) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an 8-bit truecolor PNG
    — the test/e2e twin of decode_png. `filter_type` picks the
    per-row filter (0=None default; 1/2/3/4 exercise the decoder's
    Sub/Up/Average/Paeth reconstruction paths)."""
    h, w, _ = rgb.shape
    img = rgb.astype(np.int32)
    # filtering predicts from ORIGINAL neighbor bytes, so every filter
    # vectorizes over the whole image: left/up/up-left shifted views
    left = np.zeros_like(img)
    left[:, 1:] = img[:, :-1]
    up = np.zeros_like(img)
    up[1:] = img[:-1]
    upleft = np.zeros_like(img)
    upleft[1:, 1:] = img[:-1, :-1]
    if filter_type == 0:
        filt = img
    elif filter_type == 1:  # Sub
        filt = (img - left) & 0xFF
    elif filter_type == 2:  # Up
        filt = (img - up) & 0xFF
    elif filter_type == 3:  # Average
        filt = (img - (left + up) // 2) & 0xFF
    elif filter_type == 4:  # Paeth
        pa = np.abs(up - upleft)
        pb = np.abs(left - upleft)
        pc = np.abs(left + up - 2 * upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
        )
        filt = (img - pred) & 0xFF
    else:
        raise ValueError(f"bad filter_type {filter_type}")
    fb = filt.astype(np.uint8).reshape(h, w * 3)
    lines = [bytes([filter_type]) + fb[y].tobytes() for y in range(h)]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload by container sniffing. BMP and PNG
    decode for real (decode_bmp / decode_png — PNG's DEFLATE comes
    from stdlib zlib); entropy-coded formats (JPEG/WebP/...) require
    codec libraries the environment doesn't ship and raise — a
    clearly-marked boundary, the surrounding Spark plumbing (binary
    column -> Arrow batch -> per-batch decode) is identical either
    way."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    raise NotImplementedError(
        "only BMP and PNG decode without an imaging library; "
        "JPEG/WebP need entropy codecs not present in this environment"
    )


def sample_frames(payload: bytes, every_n: int = 1000) -> list[bytes]:
    """Deterministic stand-in for video frame sampling: fixed-stride
    byte windows. Keeps the operator testable without codecs."""
    return [payload[i : i + 16] for i in range(0, len(payload), every_n)]


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow expensive stage's input across the cluster
    width. A small
    parquet table often arrives as ONE partition, which would serialize
    every decode/encode (or per-row JVM hash pipeline) on a single
    core (measured 4x slower at
    sf0.1); the repartition shuffles only the narrow input rows —
    trivial next to the per-row Python work it parallelizes. At real
    scale the input already has >= defaultParallelism partitions and
    this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # File-count heuristic instead of df.rdd.getNumPartitions(): the
    # RDD accessor materializes the full RDD lineage on every call in
    # an otherwise pure-DataFrame engine. inputFiles() is a cheap
    # listing off the scan node. Fewer files than cores is the trap
    # this helper exists for (the one-file fixture scan) -> add the
    # narrow repartition. The heuristic is conservative the other
    # way: >= target SMALL files can still pack into fewer tasks
    # (FileSourceScanExec bin-packs by maxPartitionBytes), in which
    # case we skip a repartition that would have helped a little —
    # acceptable for a pre-shuffle spreading hint, and at production
    # scale per-file splits dominate packing anyway.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    # Non-file-scan inputs (in-memory sources, post-shuffle plans)
    # report zero files — that is "no information", not "one file";
    # repartitioning there would ADD a shuffle to an already-wide
    # plan. Only a genuine few-file scan triggers the spread.
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary payload column (UTF-8 bytes of the text
    here; in production the bytes come off object storage)."""
    from pyspark.sql import functions as F

    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


FRAME_META_SCHEMA = "doc_id long, n_frames long, frames_md5 string"


def extract_frame_meta(df: DataFrame, every_n: int = 100) -> DataFrame:
    """Frame-sampling pipeline shape: binary payload -> fixed-stride
    frame windows (the deterministic codec stand-in, sample_frames) ->
    per-document frame count + digest. A real video path swaps
    sample_frames for a decoder; partitioning, batching and schema
    stay identical."""
    ensure_package_on_executors(df.sparkSession)

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = pdf["payload"].map(
                lambda b: sample_frames(bytes(b), every_n=every_n)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": frames.map(len).astype("int64"),
                    "frames_md5": frames.map(
                        lambda fs: hashlib.md5(b"".join(fs)).hexdigest()
                    ),
                }
            )

    return fan_out(df.select("doc_id", "payload")).mapInPandas(
        frame_batches, schema=FRAME_META_SCHEMA
    )


def _det_bytes(seed: str, n: int) -> bytes:
    """Deterministic pseudo-random byte stream (md5 counter chain) —
    the fixture generator for synthetic payloads; no RNG state, same
    bytes on every executor."""
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"{seed}:{i}".encode()).digest()
        i += 1
    return bytes(out[:n])


def with_image_payload(df: DataFrame, side: int = 16) -> DataFrame:
    """Attach a synthetic image payload in a MIXED container format —
    even doc_ids get 24-bit BMP, odd doc_ids get 8-bit truecolor PNG
    (filter type rotating over doc_id % 5 so every PNG reconstruction
    path — None/Sub/Up/Average/Paeth — is exercised in the pipeline,
    not just in unit tests). Same deterministic pixels either way, so
    downstream features depend only on content, not container."""
    ensure_package_on_executors(df.sparkSession)

    def attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                rgb = np.frombuffer(
                    _det_bytes(f"img:{t}", side * side * 3), dtype=np.uint8
                ).reshape(side, side, 3)
                if doc_id % 2 == 0:
                    payloads.append(encode_bmp(rgb))
                else:
                    payloads.append(encode_png(rgb, filter_type=int(doc_id % 5)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return fan_out(df.select("doc_id", "text")).mapInPandas(
        attach, schema="doc_id long, payload binary"
    )


def with_wav_payload(df: DataFrame, n_samples: int = 1024) -> DataFrame:
    """Attach a synthetic 16-bit PCM mono WAV payload derived
    deterministically from each row's text."""
    ensure_package_on_executors(df.sparkSession)

    def attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_wav(
                    np.frombuffer(
                        _det_bytes(f"wav:{t}", n_samples * 2), dtype="<i2"
                    ).reshape(-1, 1),
                    sample_rate=8000,
                )
                for t in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return fan_out(df.select("doc_id", "text")).mapInPandas(
        attach, schema="doc_id long, payload binary"
    )


IMAGE_FEATURES_SCHEMA = (
    "doc_id long, container string, width long, height long, mean_r double, "
    "mean_g double, mean_b double, img_md5 string"
)


def extract_image_features(df: DataFrame) -> DataFrame:
    """Decoded-image features through the real parsers (BMP + PNG via
    container sniffing): dimensions, per-channel means, pixel digest.
    Arrow-batched mapInPandas over the binary column — the exact
    plumbing a PIL/libvips decoder would slot into."""
    ensure_package_on_executors(df.sparkSession)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                img = decode_image(raw)
                means = img.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        doc_id,
                        "png" if raw[:8] == PNG_SIG else "bmp",
                        img.shape[1],
                        img.shape[0],
                        round(float(means[0]), 6),
                        round(float(means[1]), 6),
                        round(float(means[2]), 6),
                        hashlib.md5(img.tobytes()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "container", "width", "height",
                    "mean_r", "mean_g", "mean_b", "img_md5",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(
        feats, schema=IMAGE_FEATURES_SCHEMA
    )


def resize_image(img: np.ndarray, size: tuple[int, int]) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy (no imaging library):
    output pixel (i, j) samples source pixel
    (floor((i + 0.5) * sh / h), floor((j + 0.5) * sw / w)) — the
    standard center-aligned NN grid, deterministic on every platform.
    Works for up- and down-scaling and any channel count."""
    h, w = size
    sh, sw = img.shape[:2]
    rows = np.minimum(((np.arange(h) + 0.5) * sh / h).astype(np.int64), sh - 1)
    cols = np.minimum(((np.arange(w) + 0.5) * sw / w).astype(np.int64), sw - 1)
    return img[rows][:, cols]


RESIZED_FEATURES_SCHEMA = (
    "doc_id long, src_w long, src_h long, out_w long, out_h long, "
    "mean_r double, mean_g double, mean_b double, resized_md5 string"
)


def extract_resized_features(df: DataFrame, size: tuple[int, int]) -> DataFrame:
    """Decode -> resize -> features in ONE mapInPandas pass (decode
    output never crosses back to the JVM — the single-Python-stage
    shape a production thumbnail/embedding-prep pipeline wants):
    container sniff, real BMP/PNG decode, NN resize, per-channel
    means and digest of the RESIZED pixels."""
    ensure_package_on_executors(df.sparkSession)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image(bytes(payload))
                out = resize_image(img, size)
                means = out.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        doc_id,
                        img.shape[1],
                        img.shape[0],
                        out.shape[1],
                        out.shape[0],
                        round(float(means[0]), 6),
                        round(float(means[1]), 6),
                        round(float(means[2]), 6),
                        hashlib.md5(out.tobytes()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_w", "src_h", "out_w", "out_h",
                    "mean_r", "mean_g", "mean_b", "resized_md5",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(
        feats, schema=RESIZED_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = (
    "doc_id long, sample_rate long, n_samples long, duration_ms double, "
    "rms double, peak long"
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Decoded-audio features through the real PCM/WAV parser:
    sample rate, length, RMS energy, peak amplitude."""
    ensure_package_on_executors(df.sparkSession)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = decode_wav(bytes(payload))
                flat = samples.astype(np.float64).ravel()
                rows.append(
                    (
                        doc_id,
                        rate,
                        samples.shape[0],
                        round(samples.shape[0] / rate * 1000.0, 6),
                        round(float(np.sqrt(np.mean(flat**2))), 6),
                        # widen BEFORE abs: np.abs wraps on int16
                        # -32768 (full-scale negative) and would
                        # misreport the peak
                        int(np.max(np.abs(samples.astype(np.int64)))),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples",
                    "duration_ms", "rms", "peak",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(
        feats, schema=AUDIO_FEATURES_SCHEMA
    )


def extract_payload_meta(df: DataFrame) -> DataFrame:
    """Typed metadata for a binary `payload` column via Arrow-batched
    mapInPandas: (doc_id, n_bytes, payload_md5). This is the template
    every real decoder follows — per-batch vectorized work, bounded
    memory, schema declared up front."""
    ensure_package_on_executors(df.sparkSession)

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "payload_md5": pdf["payload"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return fan_out(df.select("doc_id", "payload")).mapInPandas(
        meta_batches, schema=PAYLOAD_META_SCHEMA
    )
