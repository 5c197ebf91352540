"""Multimodal (image/audio/video) column plumbing.

Design per the north star: media travels as opaque ``binary`` columns with a
typed metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow-batched pandas UDFs over ``mapInPandas`` so each batch amortizes
Python transfer.

Decode status:
- **REAL, pure numpy** (no external libs): PPM/PGM (P5/P6), uncompressed
  24/32-bit BMP, and **complete PNG** (stdlib zlib inflate → per-scanline
  unfilter → raster; bit depths 1/2/4/8/16, gray / gray+alpha / RGB / RGBA /
  palette, sequential AND Adam7-interlaced) — full header parse, raster
  decode, nearest-neighbor resize, PGM re-encode. Tested pixel-exact against
  planted rasters exercising every PNG filter type, depth, and interlace
  mode.
- **REAL, pure numpy audio**: FLAC (full mandatory subset — Rice/LPC/
  fixed predictors, stereo decorrelation — :mod:`.flac`) and RIFF/WAVE
  decode (integer PCM 8/16/24/32-bit
  + IEEE float, any channel count, chunk-walking parser) with per-clip
  features (duration, RMS, peak, zero-crossing rate) over ``mapInPandas``.
- **REAL, pure numpy JPEG**: baseline sequential AND progressive (SOF2)
  DCT decode (:mod:`preprocessor_spark.operators.jpeg` — Huffman entropy
  decode, full Annex G progressive scan family incl. successive
  approximation and AC refinement, 4:4:4/4:2:2/4:2:0 sampling, restart
  intervals, vectorized IDCT).
- **REAL, pure numpy video**: frame sampling with per-frame features over
  MJPEG-in-AVI (RIFF walk + the JPEG decoder per sampled frame),
  uncompressed BI_RGB AVI (``##db`` DIB frames via the stream's ``strf``
  geometry), and photo-JPEG QuickTime/MOV (ISO-BMFF sample-table walk:
  stsd/stsz/stsc/stco/stts).
- **Gated**: compressed audio (MP3/AAC) and true inter-frame video codecs
  (H.264/VP9/...) need ffmpeg-class libs (absent in this container) —
  clear NotImplementedError in each case.
- A deterministic content-hash fake (``decoder="fake"``) remains for
  plumbing tests over arbitrary (non-image) payloads.

Header-only metadata (format, dimensions, bit depth) without a decode is
:mod:`preprocessor_spark.operators.media_meta`.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("format", T.StringType()),  # png/jpeg/wav/mp4/...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_media_meta(df: DataFrame, binary_col: str, media_type: str, fmt: str) -> DataFrame:
    """Wrap a raw binary column with the typed metadata struct (sizes are
    computable; pixel dims/duration need decode → left null until then)."""
    return df.withColumn(
        f"{binary_col}_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
            F.length(F.col(binary_col)).cast("bigint").alias("n_bytes"),
        ),
    )


def _fake_decode_image(payload: bytes) -> np.ndarray:
    """Deterministic fake decoder: derives an 8x8 grayscale 'image' from the
    content hash. Used for plumbing tests over arbitrary payloads."""
    h = hashlib.blake2b(payload or b"", digest_size=64).digest()
    return np.frombuffer(h, dtype=np.uint8).reshape(8, 8).astype(np.float32) / 255.0


def _decode_pnm(payload: bytes) -> np.ndarray:
    """PPM (P6, RGB) / PGM (P5, gray) binary-raster decode, pure numpy."""
    # header = magic, width, height, maxval as whitespace-separated ASCII
    # tokens ('#' comments allowed), then a single whitespace byte, then the
    # raster
    tokens: list[int] = []
    i = 2  # past magic
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace separating header from raster
    w, h, maxval = tokens
    channels = 3 if payload[:2] == b"P6" else 1
    dtype = np.uint8 if maxval < 256 else np.dtype(">u2")
    raster = np.frombuffer(payload, dtype=dtype, count=w * h * channels, offset=i)
    img = raster.reshape(h, w, channels).astype(np.float32) / float(maxval)
    return img.mean(axis=2) if channels == 3 else img[:, :, 0]


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BMP decode, pure numpy (BITMAPINFOHEADER)."""
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"only uncompressed 24/32-bit BMP supported (bpp={bpp}, compression={compression})"
        )
    nch = bpp // 8
    stride = (w * nch + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h), offset=off)
    img = rows.reshape(abs(h), stride)[:, : w * nch].reshape(abs(h), w, nch)
    if h > 0:  # positive height = bottom-up storage
        img = img[::-1]
    # BGR(A) order; average BGR channels to grayscale
    return img[:, :, :3].astype(np.float32).mean(axis=2) / 255.0


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel by PNG color type: gray, RGB, palette, gray+A, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline PNG filters → (h, stride) uint8 recon array.

    Filter None/Up/Sub are fully vectorized (Sub is a prefix-sum mod 256
    within each byte lane); Average and Paeth carry a true sequential
    dependency along x and fall back to a per-byte loop — rare in encoder
    output for the flat/synthetic images this path targets, and correctness
    comes first for the others."""
    arr = np.frombuffer(raw, dtype=np.uint8, count=h * (stride + 1)).reshape(h, stride + 1)
    filters, data = arr[:, 0], arr[:, 1:]
    recon = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, cur = int(filters[y]), data[y]
        if f == 0:
            row = cur.copy()
        elif f == 2:  # Up: uint8 addition wraps mod 256 by itself
            row = cur + prev
        elif f == 1:  # Sub: per-lane cumulative sum mod 256
            row = cur.copy()
            for lane in range(bpp):
                row[lane::bpp] = np.cumsum(cur[lane::bpp], dtype=np.uint64) & 0xFF
        else:  # Average (3) / Paeth (4): sequential along x
            row = np.zeros(stride, dtype=np.uint8)
            cur_i, prev_i, row_i = cur.astype(np.int32), prev.astype(np.int32), row
            for x in range(stride):
                a = int(row_i[x - bpp]) if x >= bpp else 0
                b = int(prev_i[x])
                if f == 3:
                    row_i[x] = (cur_i[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev_i[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    row_i[x] = (cur_i[x] + pred) & 0xFF
        recon[y] = row
        prev = recon[y]
    return recon


# Adam7 pass grid: (x_start, x_step, y_start, y_step) per pass
_ADAM7 = [(0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4), (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2)]


def _png_samples(raw: bytes, w: int, h: int, depth: int, nch: int) -> np.ndarray:
    """Unfilter + unpack one (sub)image's filtered scanlines → (h, w, nch)
    int32 samples in [0, 2^depth). Handles sub-byte depths (1/2/4, MSB-first
    packing) and 16-bit big-endian."""
    bits_pp = nch * depth
    stride = (w * bits_pp + 7) // 8
    bpp = max(1, bits_pp // 8)  # filter offset is 1 byte for sub-byte depths
    recon = _png_unfilter(raw, h, stride, bpp)
    if depth == 8:
        return recon.reshape(h, w, nch).astype(np.int32)
    if depth == 16:
        r = recon.reshape(h, w * nch, 2).astype(np.int32)
        return ((r[:, :, 0] << 8) | r[:, :, 1]).reshape(h, w, nch)
    bits = np.unpackbits(recon, axis=1)[:, : w * nch * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int32)
    return (bits.reshape(h, w * nch, depth).astype(np.int32) * weights).sum(axis=2).reshape(
        h, w, nch
    )


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure-numpy PNG decode (stdlib zlib): chunk walk → inflate the IDAT
    stream → unfilter scanlines → raster → float32 grayscale [0,1].

    Full coverage of the PNG raster space: bit depths 1/2/4/8/16, color
    types 0/2/3/4/6, interlace methods 0 (sequential) and 1 (Adam7 — seven
    independently-filtered sub-images scattered back onto the pixel
    grid)."""
    import struct
    import zlib

    i = len(_PNG_SIG)
    idat = bytearray()
    plte: np.ndarray | None = None
    w = h = depth = ctype = interlace = None
    while i + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[i : i + 4])
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        i += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG without IHDR chunk")
    if depth not in (1, 2, 4, 8, 16) or ctype not in _PNG_CHANNELS:
        raise ValueError(f"invalid PNG bit depth {depth} / color type {ctype}")
    nch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(bytes(idat))
    if interlace == 1:
        samples = np.zeros((h, w, nch), dtype=np.int32)
        off = 0
        for xs, xstep, ys, ystep in _ADAM7:
            pw = (w - xs + xstep - 1) // xstep
            ph = (h - ys + ystep - 1) // ystep
            if pw <= 0 or ph <= 0:
                continue
            nbytes = ph * (1 + (pw * nch * depth + 7) // 8)
            samples[ys::ystep, xs::xstep] = _png_samples(raw[off : off + nbytes], pw, ph, depth, nch)
            off += nbytes
    else:
        samples = _png_samples(raw, w, h, depth, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        idx = np.clip(samples[:, :, 0], 0, len(plte) - 1)
        return plte[idx].astype(np.float32).mean(axis=2) / 255.0
    maxval = float((1 << depth) - 1)
    img = samples.astype(np.float32) / maxval
    if ctype in (0, 4):  # gray / gray+alpha: intensity channel only
        return img[:, :, 0]
    return img[:, :, :3].mean(axis=2)  # RGB / RGBA


def decode_image(payload: bytes) -> np.ndarray:
    """Decode to a float32 grayscale [0,1] 2-D array.

    PPM/PGM, uncompressed BMP, PNG (all depths, color types, and interlace
    modes), JPEG (baseline AND progressive), TIFF (8-bit strip layout, none/PackBits), GIF (first frame; use
    :mod:`preprocessor_spark.operators.gif` for animations), and lossless
    WebP (VP8L, all transforms — :mod:`preprocessor_spark.operators.webp`;
    lossy VP8 raises the declared codec gate) decode here with no
    external dependency; anything else falls through to PIL when
    available."""
    if not payload:
        raise ValueError("empty image payload")
    magic = payload[:2]
    if magic in (b"P5", b"P6"):
        return _decode_pnm(payload)
    if magic == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from preprocessor_spark.operators.gif import decode_gif

        return decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from preprocessor_spark.operators.tiff import decode_tiff

        return decode_tiff(payload)
    if payload[:2] == b"\xff\xd8":  # JPEG SOI (baseline or progressive)
        from preprocessor_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from preprocessor_spark.operators.webp import decode_webp

        return decode_webp(payload)  # lossless VP8L; lossy VP8 gates
    try:  # compressed formats need a real imaging lib
        import io

        from PIL import Image  # noqa: PLC0415

        arr = np.asarray(Image.open(io.BytesIO(payload)).convert("L"), dtype=np.float32)
        return arr / 255.0
    except ImportError as exc:
        raise NotImplementedError(
            f"format with magic {magic!r} requires PIL, which is not installed"
        ) from exc


def _resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample via integer index mapping (pure numpy)."""
    ys = (np.arange(height) * (img.shape[0] / height)).astype(np.int64)
    xs = (np.arange(width) * (img.shape[1] / width)).astype(np.int64)
    return img[ys][:, xs]


def _encode_pgm(img: np.ndarray) -> bytes:
    """float [0,1] grayscale → binary PGM (P5) bytes."""
    u8 = np.clip(np.round(img * 255.0), 0, 255).astype(np.uint8)
    h, w = u8.shape
    return b"P5\n%d %d\n255\n" % (w, h) + u8.tobytes()


def encode_png_gray(raster: np.ndarray) -> bytes:
    """(h, w) uint8 → minimal valid grayscale PNG (color type 0, depth 8,
    filter 0 scanlines, one zlib IDAT, real CRCs)."""
    import struct
    import zlib

    u8 = raster.astype(np.uint8)
    h, w = u8.shape
    raw = b"".join(b"\x00" + u8[y].tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_bmp_gray(raster: np.ndarray) -> bytes:
    """(h, w) uint8 → uncompressed 24-bit BMP (BGR triplets of the gray
    value, bottom-up rows padded to 4 bytes — the layout _decode_bmp
    reads)."""
    import struct

    u8 = raster.astype(np.uint8)
    h, w = u8.shape
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = np.repeat(u8[y], 3).tobytes()
        rows += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    size = off + len(rows)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + dib + bytes(rows)


def flat_gray_safe_values() -> list[int]:
    """The intensities v ∈ [0, 256) whose flat-gray decode is EXACTLY
    float32(v/255) on every pure-numpy decode path, including WebP's
    Rec.601-in-float32 luma chain (0.299v + 0.587v + 0.114v)/255 — the
    other paths (PGM/BMP/GIF/TIFF/PNG/JPEG-flat) are exact for all 256
    values (float32 division == float64-divide-then-narrow over the whole
    range; verified in tests). Pure arithmetic on constants — no data, no
    decoder involved — so an SQL oracle can embed the list as a literal."""
    v = np.arange(256)
    r = v.astype(np.float32)
    luma = (0.299 * r + 0.587 * r + 0.114 * r) / 255.0
    ref = v.astype(np.float64) / 255.0
    return [int(x) for x in v[luma == ref.astype(np.float32)]]


IMAGE_FEATURES_SCHEMA = (
    "id bigint, mean_intensity double, std_intensity double, width int, height int"
)


def image_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    batch_hint: int = 1024,
    decoder: str = "auto",
) -> DataFrame:
    """Decode + feature-extract via mapInPandas.

    ``decoder="auto"`` uses the real decoders (PPM/PGM/BMP pure-numpy,
    PIL fallback for compressed formats); ``decoder="fake"`` uses the
    deterministic content-hash stand-in for non-image payloads. Arrow
    batches stream through the iterator; each batch is vectorized numpy.
    """
    if decoder not in ("auto", "fake"):
        raise ValueError(f"decoder must be 'auto' or 'fake', got {decoder!r}")
    decode = decode_image if decoder == "auto" else _fake_decode_image

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = [decode(b) for b in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    # float64 accumulation: k·x is exact in double for any
                    # float32 pixel x (24-bit mantissa), so flat images
                    # yield mean == x and std == 0 bit-exactly — the
                    # property the analytic value oracle relies on (same
                    # discipline as sample_video_frames below)
                    "mean_intensity": [float(a.mean(dtype=np.float64)) for a in imgs],
                    "std_intensity": [float(a.std(dtype=np.float64)) for a in imgs],
                    "width": [a.shape[1] for a in imgs],
                    "height": [a.shape[0] for a in imgs],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(_extract, IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = "id bigint, payload binary, width int, height int"


def resize_images(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    width: int,
    height: int,
    out_format: str = "pgm",
    jpeg_quality_step: int = 2,
) -> DataFrame:
    """REAL resize for decodable formats: decode (PNG/JPEG/PPM/PGM/BMP
    pure-numpy, incl. progressive JPEG), nearest-neighbor
    resample, re-encode as binary PGM (lossless gray) or baseline JPEG
    (``out_format="jpeg"`` — the thumbnail-export path). Arrow-batched
    mapInPandas; per-row work is pure numpy."""
    if out_format not in ("pgm", "jpeg"):
        raise ValueError(f"out_format must be 'pgm' or 'jpeg', got {out_format!r}")

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if out_format == "jpeg":
            from preprocessor_spark.operators.jpeg import encode_jpeg

            def enc(img):
                u8 = np.clip(np.round(img * 255.0), 0, 255).astype(np.uint8)
                return encode_jpeg(u8, qval=jpeg_quality_step)

        else:
            enc = _encode_pgm
        for pdf in batches:
            out = [
                enc(_resize_nearest(decode_image(b), width, height))
                for b in pdf[binary_col]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    "payload": out,
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, binary_col).mapInPandas(_resize, RESIZED_SCHEMA)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM decode, pure numpy → (samples float32 in [-1, 1] of
    shape (n_frames, n_channels), sample_rate).

    Supports integer PCM at 8 (unsigned) / 16 / 24 / 32 bits and IEEE
    float32/float64 (format tags 1 and 3), any channel count; walks chunks
    so extra metadata (LIST, fact, cue) is skipped correctly."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    fmt = None
    data = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        ln = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + ln]
        i += 8 + ln + (ln & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV without fmt/data chunk")
    tag = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if tag == 3:  # IEEE float
        dtype = {32: "<f4", 64: "<f8"}.get(bits)
        if dtype is None:
            raise ValueError(f"float WAV with {bits} bits")
        samples = np.frombuffer(data, dtype=dtype).astype(np.float32)
    elif tag == 1:  # integer PCM
        if bits == 8:  # unsigned, midpoint 128
            samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
        elif bits == 16:
            samples = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
        elif bits == 24:  # 3-byte little-endian, sign-extend via high-byte trick
            raw = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            vals = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int8).astype(np.int32) << 16)
            )
            samples = vals.astype(np.float32) / 8388608.0
        elif bits == 32:
            samples = np.frombuffer(data, dtype="<i4").astype(np.float32) / 2147483648.0
        else:
            raise ValueError(f"PCM WAV with {bits} bits")
    else:
        raise NotImplementedError(f"WAV format tag {tag} (compressed) requires an audio codec lib")
    n = len(samples) - len(samples) % n_channels
    return samples[:n].reshape(-1, n_channels), sample_rate


AUDIO_FEATURES_SCHEMA = (
    "id bigint, sample_rate int, n_channels int, duration_ms double, "
    "rms double, peak double, zero_crossing_rate double"
)


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV or FLAC → (samples float32 (n, ch) in [-1, 1], rate)."""
    if payload[:4] == b"fLaC":
        from preprocessor_spark.operators.flac import decode_flac

        return decode_flac(payload)
    return decode_wav(payload)


def audio_features(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """Decode WAV/FLAC payloads + extract per-clip features via mapInPandas
    (Arrow-batched, same plumbing contract as ``image_features``): duration,
    RMS energy, absolute peak, and mean zero-crossing rate over the
    channel-averaged signal."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("id", "sample_rate", "n_channels", "duration_ms", "rms", "peak", "zero_crossing_rate")}
            for rid, payload in zip(pdf[id_col], pdf[binary_col]):
                samples, rate = decode_audio(bytes(payload))
                mono = samples.mean(axis=1)
                rows["id"].append(rid)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(samples.shape[1])
                rows["duration_ms"].append(samples.shape[0] * 1000.0 / rate)
                rows["rms"].append(float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0)
                rows["peak"].append(float(np.abs(samples).max()) if samples.size else 0.0)
                rows["zero_crossing_rate"].append(
                    float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                    if len(mono) > 1
                    else 0.0
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, binary_col).mapInPandas(_extract, AUDIO_FEATURES_SCHEMA)


def _dib_to_gray(frame: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Uncompressed DIB (BI_RGB) → float32 grayscale [0,1]. Rows are
    4-byte-aligned, bottom-up when h > 0 (the DIB convention), pixel order
    BGR(A)."""
    if bpp not in (24, 32):
        raise NotImplementedError(f"BI_RGB bit depth {bpp} unsupported (24/32 only)")
    bottom_up = h > 0
    h = abs(h)
    nb = bpp // 8
    stride = (w * nb + 3) & ~3
    rows = np.frombuffer(frame, dtype=np.uint8, count=stride * h).reshape(h, stride)
    px = rows[:, : w * nb].reshape(h, w, nb)[:, :, :3]
    if bottom_up:
        px = px[::-1]
    return (px.astype(np.float32).mean(axis=2) / 255.0).astype(np.float32)


def decode_avi_frames(payload: bytes) -> tuple[list, float]:
    """RIFF/AVI container walk, pure stdlib → (frames, fps) where each
    frame is either JPEG bytes (``##dc`` Motion-JPEG chunks) or an already
    decoded float32 grayscale array (``##db`` uncompressed BI_RGB DIB
    chunks, geometry from the stream's ``strf`` BITMAPINFOHEADER).

    AVI is RIFF like WAV: the ``hdrl`` LIST's ``avih`` chunk carries the
    microseconds-per-frame; the ``movi`` LIST carries one chunk per frame.
    Codecs that need ffmpeg (H.264/VP9/...) raise NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    us_per_frame = None
    frames: list = []
    strf: list[tuple[int, int, int, int]] = []  # (w, h, bpp, compression) per strl

    def walk(start: int, end: int) -> None:
        nonlocal us_per_frame
        i = start
        while i + 8 <= end:
            cid = payload[i : i + 4]
            ln = int.from_bytes(payload[i + 4 : i + 8], "little")
            body_start = i + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + ln)  # skip the list type tag
            elif cid == b"avih":
                us_per_frame = int.from_bytes(payload[body_start : body_start + 4], "little")
            elif cid == b"strf" and ln >= 20:
                # BITMAPINFOHEADER: biWidth@4, biHeight@8, biBitCount@14,
                # biCompression@16 (0 = BI_RGB)
                b = payload[body_start : body_start + ln]
                strf.append(
                    (
                        int.from_bytes(b[4:8], "little", signed=True),
                        int.from_bytes(b[8:12], "little", signed=True),
                        int.from_bytes(b[14:16], "little"),
                        int.from_bytes(b[16:20], "little"),
                    )
                )
            elif cid[2:4] == b"dc":  # compressed video frame
                frame = payload[body_start : body_start + ln]
                if frame[:2] != b"\xff\xd8":
                    raise NotImplementedError(
                        "non-MJPEG AVI video stream requires ffmpeg, not present here"
                    )
                frames.append(frame)
            elif cid[2:4] == b"db":  # uncompressed DIB frame
                try:
                    sn = int(cid[:2])
                except ValueError:
                    sn = 0
                if sn >= len(strf):
                    raise ValueError("AVI ##db frame without a strf header")
                w, h, bpp, comp = strf[sn]
                if comp != 0:
                    raise NotImplementedError(
                        f"AVI ##db with biCompression {comp} unsupported (BI_RGB only)"
                    )
                frames.append(
                    _dib_to_gray(payload[body_start : body_start + ln], w, h, bpp)
                )
            i = body_start + ln + (ln & 1)  # chunks are word-aligned

    walk(12, len(payload))
    if us_per_frame is None or not frames:
        raise ValueError("AVI without avih header or video frames")
    return frames, 1_000_000.0 / us_per_frame


def decode_avi_mjpeg(payload: bytes) -> tuple[list[bytes], float]:
    """Backward-compatible MJPEG view of :func:`decode_avi_frames` (every
    frame as JPEG bytes; raises if the stream holds uncompressed frames)."""
    frames, fps = decode_avi_frames(payload)
    if any(not isinstance(f, bytes) for f in frames):
        raise ValueError("AVI holds uncompressed frames — use decode_avi_frames")
    return frames, fps


def _iter_boxes(buf: bytes, start: int, end: int):
    """ISO-BMFF box iterator → (type, body_start, box_end)."""
    i = start
    while i + 8 <= end:
        ln = int.from_bytes(buf[i : i + 4], "big")
        typ = buf[i + 4 : i + 8]
        if ln == 1:
            body, nxt = i + 16, i + int.from_bytes(buf[i + 8 : i + 16], "big")
        elif ln == 0:
            body, nxt = i + 8, end
        else:
            body, nxt = i + 8, i + ln
        if nxt <= i:
            raise ValueError("malformed ISO-BMFF box")
        yield typ, body, min(nxt, end)
        i = nxt


def _find_box(buf: bytes, start: int, end: int, typ: bytes):
    for t, b, e in _iter_boxes(buf, start, end):
        if t == typ:
            return b, e
    return None


def decode_mov_mjpeg(payload: bytes) -> tuple[list[bytes], float]:
    """QuickTime/MOV (ISO-BMFF) walk for Motion-JPEG ('jpeg' / 'mjpa'
    photo-JPEG) video tracks, pure stdlib → (jpeg_frame_payloads, fps).

    Reads the first video trak's sample tables: ``stsd`` (codec fourcc),
    ``stsz`` (sample sizes), ``stsc`` (sample-to-chunk runs), ``stco`` /
    ``co64`` (absolute chunk offsets), ``stts`` + ``mdhd`` timescale (frame
    rate). Every sample is a complete JPEG stream for these codecs; true
    inter-frame codecs raise the named NotImplementedError."""
    if payload[4:8] not in (b"ftyp", b"moov", b"mdat", b"wide", b"free", b"skip"):
        raise ValueError("not an ISO-BMFF/MOV payload")
    moov = _find_box(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("MOV without moov box")

    for typ, tb, te in _iter_boxes(payload, *moov):
        if typ != b"trak":
            continue
        mdia = _find_box(payload, tb, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _find_box(payload, *mdia, b"hdlr")
        if hdlr is None or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _find_box(payload, *mdia, b"mdhd")
        mdhd_version = payload[mdhd[0]]
        if mdhd_version == 0:  # 32-bit ctime/mtime
            timescale = int.from_bytes(payload[mdhd[0] + 12 : mdhd[0] + 16], "big")
        elif mdhd_version == 1:  # 64-bit ctime/mtime shift timescale by 8
            timescale = int.from_bytes(payload[mdhd[0] + 20 : mdhd[0] + 24], "big")
        else:
            raise NotImplementedError(f"mdhd version {mdhd_version} unsupported")
        minf = _find_box(payload, *mdia, b"minf")
        stbl = _find_box(payload, *minf, b"stbl")

        tables: dict[bytes, tuple[int, int]] = {}
        for t, b, e in _iter_boxes(payload, *stbl):
            tables[t] = (b, e)

        sb, _ = tables[b"stsd"]
        fourcc = payload[sb + 12 : sb + 16]
        if fourcc not in (b"jpeg", b"mjpa", b"MJPG"):
            raise NotImplementedError(
                f"MOV video codec {fourcc!r} requires ffmpeg, not present here"
            )

        for t in (b"stts", b"stsz", b"stsc"):
            if payload[tables[t][0]] != 0:  # spec defines only version 0
                raise NotImplementedError(
                    f"{t.decode()} version {payload[tables[t][0]]} unsupported"
                )

        tb_, _ = tables[b"stts"]
        delta = int.from_bytes(payload[tb_ + 12 : tb_ + 16], "big")
        fps = timescale / delta if delta else 0.0

        zb, _ = tables[b"stsz"]
        fixed = int.from_bytes(payload[zb + 4 : zb + 8], "big")
        n_samples = int.from_bytes(payload[zb + 8 : zb + 12], "big")
        sizes = (
            [fixed] * n_samples
            if fixed
            else [
                int.from_bytes(payload[zb + 12 + 4 * i : zb + 16 + 4 * i], "big")
                for i in range(n_samples)
            ]
        )

        if b"stco" in tables:
            cb, _ = tables[b"stco"]
            n_chunks = int.from_bytes(payload[cb + 4 : cb + 8], "big")
            offsets = [
                int.from_bytes(payload[cb + 8 + 4 * i : cb + 12 + 4 * i], "big")
                for i in range(n_chunks)
            ]
        else:
            cb, _ = tables[b"co64"]
            n_chunks = int.from_bytes(payload[cb + 4 : cb + 8], "big")
            offsets = [
                int.from_bytes(payload[cb + 8 + 8 * i : cb + 16 + 8 * i], "big")
                for i in range(n_chunks)
            ]

        scb, _ = tables[b"stsc"]
        n_runs = int.from_bytes(payload[scb + 4 : scb + 8], "big")
        runs = [
            (
                int.from_bytes(payload[scb + 8 + 12 * i : scb + 12 + 12 * i], "big"),
                int.from_bytes(payload[scb + 12 + 12 * i : scb + 16 + 12 * i], "big"),
            )
            for i in range(n_runs)
        ]

        frames: list[bytes] = []
        si = 0
        for ri, (first_chunk, per_chunk) in enumerate(runs):
            last_chunk = runs[ri + 1][0] - 1 if ri + 1 < len(runs) else n_chunks
            for ci in range(first_chunk - 1, last_chunk):
                pos = offsets[ci]
                for _ in range(per_chunk):
                    if si >= n_samples:
                        break
                    frames.append(payload[pos : pos + sizes[si]])
                    pos += sizes[si]
                    si += 1
        if not frames:
            raise ValueError("MOV video trak without samples")
        for f in frames:
            if f[:2] != b"\xff\xd8":
                raise ValueError("MOV jpeg sample without SOI — corrupt sample tables")
        return frames, fps
    raise ValueError("MOV without a video trak")


def decode_video_frames(payload: bytes) -> tuple[list, float]:
    """Container dispatch: RIFF/AVI (MJPEG ``##dc`` or BI_RGB ``##db``) and
    QuickTime/MOV (photo-JPEG) → (frames, fps); each frame is JPEG bytes or
    a decoded float32 grayscale array."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return decode_avi_frames(payload)
    return decode_mov_mjpeg(payload)


# ---- planted-test video writers (same role as encode_gif / encode_tiff) ----


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    return cid + len(body).to_bytes(4, "little") + body + (b"\x00" if len(body) & 1 else b"")


def _riff_list(tag: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", tag + body)


def encode_avi_mjpeg(frames: list[bytes], fps: float) -> bytes:
    """Minimal RIFF/AVI wrapper: hdrl LIST with avih (us/frame), movi LIST
    with one 00dc chunk per JPEG frame (word-aligned)."""
    avih = int(1_000_000 / fps).to_bytes(4, "little") + b"\x00" * 52
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih))
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_avi_rgb(rasters: list[np.ndarray], fps: float) -> bytes:
    """Uncompressed AVI writer: strl/strf BITMAPINFOHEADER (BI_RGB 24-bit)
    + one 00db bottom-up BGR DIB chunk per (h, w[, 3]) uint8 frame."""
    h, w = rasters[0].shape[:2]
    avih = int(1_000_000 / fps).to_bytes(4, "little") + b"\x00" * 52
    bih = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + b"\x00" * 20
    )
    strl = _riff_list(
        b"strl", _riff_chunk(b"strh", b"vids" + b"\x00" * 52) + _riff_chunk(b"strf", bih)
    )
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih) + strl)
    stride = (w * 3 + 3) & ~3
    dibs = []
    for r in rasters:
        rgb = r if r.ndim == 3 else np.stack([r] * 3, axis=2)
        bgr = rgb[:, :, ::-1]
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        dibs.append(rows[::-1].tobytes())  # bottom-up
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00db", d) for d in dibs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_mov_mjpeg(frames: list[bytes], fps: float) -> bytes:
    """QuickTime/MOV writer: one video trak, 'jpeg' sample description,
    all samples in one chunk (absolute stco offset)."""

    def box(typ: bytes, body: bytes) -> bytes:
        return (len(body) + 8).to_bytes(4, "big") + typ + body

    def i4(v: int) -> bytes:
        return int(v).to_bytes(4, "big")

    ftyp = box(b"ftyp", b"qt  " + i4(0) + b"qt  ")
    mdat = box(b"mdat", b"".join(frames))
    data_start = len(ftyp) + 8
    timescale, delta = 1000, int(round(1000 / fps))
    n = len(frames)
    stsd = box(b"stsd", b"\x00" * 4 + i4(1) + box(b"jpeg", b"\x00" * 78))
    stts = box(b"stts", b"\x00" * 4 + i4(1) + i4(n) + i4(delta))
    stsc = box(b"stsc", b"\x00" * 4 + i4(1) + i4(1) + i4(n) + i4(1))
    stsz = box(b"stsz", b"\x00" * 4 + i4(0) + i4(n) + b"".join(i4(len(f)) for f in frames))
    stco = box(b"stco", b"\x00" * 4 + i4(1) + i4(data_start))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    hdlr = box(b"hdlr", b"\x00" * 4 + b"mhlr" + b"vide" + b"\x00" * 12)
    mdhd = box(b"mdhd", b"\x00" * 4 + i4(0) + i4(0) + i4(timescale) + i4(n * delta) + b"\x00" * 4)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", trak)
    return ftyp + mdat + moov


VIDEO_FRAMES_SCHEMA = (
    "id bigint, frame_index int, t_ms double, mean_intensity double, width int, height int"
)


def sample_video_frames(df: DataFrame, id_col: str, binary_col: str, every_ms: int) -> DataFrame:
    """REAL frame sampling for MJPEG-AVI, BI_RGB-AVI, and photo-JPEG MOV
    payloads: walk the container, pick one frame per ``every_ms`` window of
    video time, decode each picked frame with the pure-numpy JPEG decoder
    (JPEG samples decode lazily — skipped frames cost nothing), and emit
    per-frame features — all inside Arrow-batched mapInPandas. True
    inter-frame codecs raise the declared NotImplementedError (ffmpeg is
    not in this container)."""
    from preprocessor_spark.operators.jpeg import decode_jpeg

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("id", "frame_index", "t_ms", "mean_intensity", "width", "height")}
            for rid, payload in zip(pdf[id_col], pdf[binary_col]):
                frames, fps = decode_video_frames(bytes(payload))
                step_ms = 1000.0 / fps
                next_t = 0.0
                for idx, frame in enumerate(frames):
                    t = idx * step_ms
                    if t + 1e-9 < next_t:
                        continue
                    next_t = t + every_ms
                    img = decode_jpeg(frame) if isinstance(frame, bytes) else frame
                    rows["id"].append(rid)
                    rows["frame_index"].append(idx)
                    rows["t_ms"].append(round(t, 6))
                    # float64 accumulator: numpy keeps float32 for float32
                    # input, and 256+ summands of f32 error shift the 6th
                    # decimal — enough to break value-exact oracles
                    rows["mean_intensity"].append(float(img.mean(dtype=np.float64)))
                    rows["width"].append(img.shape[1])
                    rows["height"].append(img.shape[0])
            yield pd.DataFrame(rows)

    return df.select(id_col, binary_col).mapInPandas(_sample, VIDEO_FRAMES_SCHEMA)
