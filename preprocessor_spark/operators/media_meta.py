"""Header-only media metadata sniffing — the cheap pass BEFORE any decode.

At 100 TB of image/audio payloads, the first pipeline stage is never a
decode: it is "what format is this, what are its dimensions / sample
rate, is it worth decoding at all" — resolution filters, aspect-ratio
buckets, corrupt-payload triage, format mix reports. Full decodes
(:mod:`preprocessor_spark.operators.multimodal`) read and unfilter every
pixel; these sniffers read a few dozen HEADER bytes per payload, so the
stage is I/O-bound on the binary column scan, not CPU-bound on codecs.

Formats: PNG (IHDR), GIF (logical screen), BMP (BITMAPINFOHEADER),
PNM P2/P3/P5/P6 (ASCII header), JPEG (segment walk to SOFn), WebP
(VP8/VP8L/VP8X headers — dimensions are plain header fields, so WebP
needs no decode here), TIFF (IFD walk for tags 256/257/258, both endians)
— and FLAC STREAMINFO and RIFF/WAVE fmt chunks for audio (sample rate /
channels / bits / duration). Unknown or truncated payloads yield NULL
fields, never exceptions (triage is the point).

Rows-only grading (binary parsing is not SQL); pytest cross-checks every
sniffed dimension against the repo's own full decoders on encoder-built
fixtures, plus truncation/garbage robustness.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame

_SOF_MARKERS = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}


def _pnm_tokens(payload: bytes, n: int) -> list[int] | None:
    """First ``n`` ASCII integers after the magic, comments skipped."""
    out: list[int] = []
    i = 2
    cur = b""
    while i < len(payload) and len(out) < n:
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isdigit():
            cur += c
        elif cur:
            out.append(int(cur))
            cur = b""
        i += 1
    if cur and len(out) < n:
        out.append(int(cur))
    return out if len(out) == n else None


def sniff_image_meta(payload: bytes) -> dict:
    """(format, width, height, bit_depth) from header bytes only; all-None
    format for unknown/truncated payloads."""
    none = {"format": None, "width": None, "height": None, "bit_depth": None}
    try:
        p = bytes(payload[:64]) if payload else b""
        if p[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 26:
            w, h = struct.unpack(">II", bytes(payload[16:24]))
            return {"format": "png", "width": w, "height": h,
                    "bit_depth": payload[24]}
        if p[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 11:
            w, h = struct.unpack("<HH", bytes(payload[6:10]))
            depth = (payload[10] & 0x07) + 1
            return {"format": "gif", "width": w, "height": h, "bit_depth": depth}
        if p[:2] == b"BM" and len(payload) >= 30:
            w, h = struct.unpack("<ii", bytes(payload[18:26]))
            (bpp,) = struct.unpack("<H", bytes(payload[28:30]))
            return {"format": "bmp", "width": w, "height": abs(h),
                    "bit_depth": bpp}
        if p[:1] == b"P" and p[1:2] in b"2356":
            toks = _pnm_tokens(bytes(payload[:4096]), 3)
            if toks:
                depth = toks[2].bit_length()
                return {"format": "pnm", "width": toks[0], "height": toks[1],
                        "bit_depth": depth}
            return none
        if p[:2] == b"\xff\xd8":
            i = 2
            buf = bytes(payload)
            while i + 9 < len(buf):
                if buf[i] != 0xFF:
                    i += 1
                    continue
                marker = buf[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                if marker in _SOF_MARKERS:
                    h, w = struct.unpack(">HH", buf[i + 5 : i + 9])
                    return {"format": "jpeg", "width": w, "height": h,
                            "bit_depth": buf[i + 4]}
                (seg,) = struct.unpack(">H", buf[i + 2 : i + 4])
                i += 2 + seg
            return none
        if p[:4] == b"RIFF" and p[8:12] == b"WEBP" and len(payload) >= 30:
            chunk = p[12:16]
            if chunk == b"VP8L" and payload[20] == 0x2F:
                (bits,) = struct.unpack("<I", bytes(payload[21:25]))
                return {"format": "webp", "width": (bits & 0x3FFF) + 1,
                        "height": ((bits >> 14) & 0x3FFF) + 1, "bit_depth": 8}
            if chunk == b"VP8 ":
                w, h = struct.unpack("<HH", bytes(payload[26:30]))
                return {"format": "webp", "width": w & 0x3FFF,
                        "height": h & 0x3FFF, "bit_depth": 8}
            if chunk == b"VP8X":
                wb = bytes(payload[24:30])
                w = 1 + (wb[0] | (wb[1] << 8) | (wb[2] << 16))
                h = 1 + (wb[3] | (wb[4] << 8) | (wb[5] << 16))
                return {"format": "webp", "width": w, "height": h,
                        "bit_depth": 8}
            return none
        if p[:4] in (b"II*\x00", b"MM\x00*"):
            buf = bytes(payload)
            bo = "<" if p[:2] == b"II" else ">"
            (off,) = struct.unpack(bo + "I", buf[4:8])
            if off + 2 > len(buf):
                return none
            (n_ent,) = struct.unpack(bo + "H", buf[off : off + 2])
            w = h = depth = None
            for k in range(n_ent):
                e = buf[off + 2 + 12 * k : off + 14 + 12 * k]
                if len(e) < 12:
                    break
                tag, typ = struct.unpack(bo + "HH", e[:4])
                if typ == 3:  # SHORT: value in the first 2 payload bytes
                    (val,) = struct.unpack(bo + "H", e[8:10])
                elif typ == 4:  # LONG
                    (val,) = struct.unpack(bo + "I", e[8:12])
                else:
                    continue
                if tag == 256:
                    w = val
                elif tag == 257:
                    h = val
                elif tag == 258:
                    depth = val
            if w is not None and h is not None:
                return {"format": "tiff", "width": w, "height": h,
                        "bit_depth": depth}
            return none
        return none
    except Exception:
        return none


def sniff_audio_meta(payload: bytes) -> dict:
    """Audio header fields with NO sample decode: FLAC STREAMINFO or
    RIFF/WAVE fmt+data chunks → (format, sample_rate, channels,
    bits_per_sample, total_samples, duration_secs)."""
    none = {"format": None, "sample_rate": None, "channels": None,
            "bits_per_sample": None, "total_samples": None,
            "duration_secs": None}
    try:
        head = bytes(payload[:12]) if payload else b""
        if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
            buf = bytes(payload)
            i = 12
            rate = channels = bps = None
            data_len = None
            while i + 8 <= len(buf):
                cid = buf[i : i + 4]
                (ln,) = struct.unpack("<I", buf[i + 4 : i + 8])
                if cid == b"fmt " and i + 24 <= len(buf):
                    channels, rate = struct.unpack("<HI", buf[i + 10 : i + 16])
                    (bps,) = struct.unpack("<H", buf[i + 22 : i + 24])
                elif cid == b"data":
                    data_len = ln
                i += 8 + ln + (ln & 1)
            if rate and channels and bps:
                total = (
                    data_len // (channels * (bps // 8))
                    if data_len is not None and bps >= 8
                    else None
                )
                dur = (total / rate) if total is not None else None
                return {"format": "wav", "sample_rate": rate,
                        "channels": channels, "bits_per_sample": bps,
                        "total_samples": total,
                        "duration_secs": round(dur, 6) if dur is not None else None}
            return none
        buf = bytes(payload[:128])
        if buf[:4] != b"fLaC" or len(buf) < 8:
            return none
        i = 4
        while i + 4 <= len(buf):
            hdr = buf[i]
            (ln,) = struct.unpack(">I", b"\x00" + buf[i + 1 : i + 4])
            if (hdr & 0x7F) == 0:  # STREAMINFO
                info = bytes(payload[i + 4 : i + 4 + ln])
                if len(info) < 18:
                    return none
                word = int.from_bytes(info[10:18], "big")
                rate = word >> 44
                channels = ((word >> 41) & 0x7) + 1
                bps = ((word >> 36) & 0x1F) + 1
                total = word & ((1 << 36) - 1)
                dur = (total / rate) if rate else None
                return {"format": "flac", "sample_rate": rate,
                        "channels": channels, "bits_per_sample": bps,
                        "total_samples": total,
                        "duration_secs": round(dur, 6) if dur is not None else None}
            if hdr & 0x80:
                break
            i += 4 + ln
        return none
    except Exception:
        return none


IMAGE_META_SCHEMA = (
    "id bigint, format string, width int, height int, bit_depth int, "
    "n_bytes bigint"
)


def image_header_meta(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """(id, format, width, height, bit_depth, n_bytes) per payload via
    Arrow-batched ``mapInPandas`` — header bytes only, no decode; unknown
    formats report NULL fields (triage rows, not exceptions)."""
    import pandas as pd

    def _sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                sniff_image_meta(b) if b is not None else
                {"format": None, "width": None, "height": None, "bit_depth": None}
                for b in pdf[binary_col]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    "format": [m["format"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "bit_depth": [m["bit_depth"] for m in metas],
                    "n_bytes": [len(b) if b is not None else 0 for b in pdf[binary_col]],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(_sniff, IMAGE_META_SCHEMA)


AUDIO_META_SCHEMA = (
    "id bigint, format string, sample_rate int, channels int, "
    "bits_per_sample int, total_samples bigint, duration_secs double, "
    "n_bytes bigint"
)


def audio_header_meta(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """(id, format, sample_rate, channels, bits_per_sample,
    total_samples, duration_secs, n_bytes) from FLAC STREAMINFO / RIFF
    WAVE headers only."""
    import pandas as pd

    def _sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                sniff_audio_meta(b) if b is not None else sniff_audio_meta(b"")
                for b in pdf[binary_col]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    "format": [m["format"] for m in metas],
                    "sample_rate": [m["sample_rate"] for m in metas],
                    "channels": [m["channels"] for m in metas],
                    "bits_per_sample": [m["bits_per_sample"] for m in metas],
                    "total_samples": [m["total_samples"] for m in metas],
                    "duration_secs": [m["duration_secs"] for m in metas],
                    "n_bytes": [len(b) if b is not None else 0 for b in pdf[binary_col]],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(_sniff, AUDIO_META_SCHEMA)
