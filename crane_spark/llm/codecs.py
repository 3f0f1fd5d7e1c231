"""Dependency-free multimodal codecs: PNG / BMP / PPM / PGM images
and WAV-PCM audio, pure Python + NumPy (+ stdlib zlib for PNG).

These are the REAL decoders behind `llm.multimodal.extract_features`
(the container has no PIL/ffmpeg; these formats need none). Each
decoder parses the actual container format — headers, alignment,
channel order — and returns typed NumPy arrays; each encoder writes a
spec-conformant file that external tools (and Python's stdlib `wave`
module, used as the independent oracle in tests) can read back.

Supported:
  * PNG: 8-bit-per-sample, color types 0/2/3/4/6 (gray, RGB, palette,
    gray+alpha, RGBA), all five scanline filters, non-interlaced;
    CRCs verified on read, alpha stripped to the DecodedImage 1/3
    channel contract, palette expanded via PLTE.
  * BMP: uncompressed 24-bit BI_RGB (BITMAPINFOHEADER), bottom-up or
    top-down row order, 4-byte-aligned rows (the overwhelmingly common
    on-disk layout).
  * PPM (P6) / PGM (P5): binary netpbm, maxval <= 255.
  * WAV: RIFF/WAVE, PCM (format 1) 8-bit unsigned or 16-bit signed,
    any channel count / sample rate.

Everything operates on in-memory `bytes` — the unit that flows through
an Arrow batch in `mapInPandas` — never file handles, so the decode
stage stays a pure function over the binary column.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np

# --------------------------------------------------------------------
# sniffing


def sniff(data: bytes) -> str | None:
    """Best-effort container detection from magic bytes: 'png', 'bmp',
    'ppm', 'pgm', 'wav', or None for anything unrecognized."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:2] == b"BM":
        return "bmp"
    if data[:2] == b"P6":
        return "ppm"
    if data[:2] == b"P5":
        return "pgm"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    return None


# --------------------------------------------------------------------
# decoded representations


@dataclass
class DecodedImage:
    """Pixels as (height, width, channels) uint8; channels is 1 (gray)
    or 3 (RGB, in RGB order regardless of container byte order)."""

    pixels: np.ndarray
    fmt: str

    @property
    def height(self) -> int:
        return self.pixels.shape[0]

    @property
    def width(self) -> int:
        return self.pixels.shape[1]

    @property
    def channels(self) -> int:
        return self.pixels.shape[2]


@dataclass
class DecodedAudio:
    """Samples as (n_frames, channels) float64 normalized to [-1, 1]."""

    samples: np.ndarray
    sample_rate: int
    fmt: str

    @property
    def n_frames(self) -> int:
        return self.samples.shape[0]

    @property
    def channels(self) -> int:
        return self.samples.shape[1]


# --------------------------------------------------------------------
# PNG (8-bit, non-interlaced; stdlib zlib + CRC verification)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (before palette expansion)
_PNG_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(data: bytes):
    """Walk (type, body) chunks, verifying each CRC — corruption fails
    loudly here instead of surfacing as garbled pixels downstream."""
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (size,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size or pos + 12 + size > n:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + size)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r} chunk")
        yield ctype, body
        if ctype == b"IEND":
            return
        pos += 12 + size
    raise ValueError("PNG missing IEND chunk")


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters. Rows are sequential by
    spec (each depends on the fully reconstructed row above); the
    within-row recurrences (Sub/Average/Paeth depend on the pixel to
    the left) run as a per-pixel-column loop of width-long vector ops
    — O(h * stride) total work either way, loop overhead bounded by
    bytes-per-pixel * height iterations."""
    rows = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if f == 0:
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth: left-recursive
            rec = cur.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                if f == 1:
                    rec[x] = (cur[x] + a) & 0xFF
                elif f == 3:
                    rec[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
                else:
                    b = prev[x]
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
    return out


def decode_png(data: bytes) -> DecodedImage:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG file")
    w = h = None
    color = depth = interlace = None
    plte: bytes | None = None
    idat: list[bytes] = []
    for ctype, body in _png_chunks(data):
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (only 8)")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if color not in _PNG_SAMPLES:
        raise ValueError(f"unsupported PNG color type {color}")
    spp = _PNG_SAMPLES[color]
    stride = w * spp
    try:
        raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    px = _png_unfilter(raw, h, stride, spp).reshape(h, w, spp)
    if color == 3:  # palette -> RGB
        if plte is None or len(plte) % 3:
            raise ValueError("paletted PNG missing/invalid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        px = pal[idx]
    elif color == 4:  # gray+alpha -> gray
        px = px[:, :, :1]
    elif color == 6:  # RGBA -> RGB
        px = px[:, :, :3]
    return DecodedImage(pixels=np.ascontiguousarray(px), fmt="png")


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode (h, w, 3) RGB or (h, w, 1)/(h, w) gray uint8 as a
    non-interlaced 8-bit PNG (filter 0 scanlines — readers handle any
    filter; writers may pick the cheapest)."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    if ch not in (1, 3):
        raise ValueError(f"encode_png expects 1 or 3 channels, got {ch}")
    color = 0 if ch == 1 else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    scan = np.zeros((h, 1 + w * ch), dtype=np.uint8)
    scan[:, 1:] = pixels.reshape(h, w * ch)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


# --------------------------------------------------------------------
# BMP (24-bit uncompressed)


def decode_bmp(data: bytes) -> DecodedImage:
    if data[:2] != b"BM":
        raise ValueError("not a BMP file")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    header_size = struct.unpack_from("<I", data, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp != 24:
        raise ValueError(f"unsupported BMP bit depth {bpp} (only 24)")
    top_down = height < 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = pixel_offset + row_bytes * height
    if len(data) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(data, dtype=np.uint8, count=row_bytes * height, offset=pixel_offset)
    rows = raw.reshape(height, row_bytes)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        rows = rows[::-1]
    # BMP stores BGR; flip to RGB
    return DecodedImage(pixels=np.ascontiguousarray(rows[:, :, ::-1]), fmt="bmp")


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode (h, w, 3) or (h, w, 1) uint8 to 24-bit bottom-up BMP."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    if pixels.shape[2] == 1:
        pixels = np.repeat(pixels, 3, axis=2)
    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    bgr = pixels[::-1, :, ::-1]  # bottom-up, RGB -> BGR
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return header + rows.tobytes()


# --------------------------------------------------------------------
# netpbm (P6 / P5 binary)


def _pnm_header(data: bytes, magic: bytes) -> tuple[int, int, int, int]:
    """Parse 'P6/P5 <w> <h> <maxval>' allowing comments/whitespace;
    returns (width, height, maxval, pixel_data_offset)."""
    if data[:2] != magic:
        raise ValueError(f"not a {magic.decode()} file")
    fields: list[int] = []
    i = 2
    n = len(data)
    while len(fields) < 3:
        while i < n and data[i : i + 1].isspace():
            i += 1
        if i < n and data[i : i + 1] == b"#":  # comment to end of line
            while i < n and data[i] not in (10, 13):
                i += 1
            continue
        j = i
        while j < n and not data[j : j + 1].isspace():
            j += 1
        if i == j:
            raise ValueError("truncated netpbm header")
        fields.append(int(data[i:j]))
        i = j
    return fields[0], fields[1], fields[2], i + 1  # single ws after maxval


def decode_ppm(data: bytes) -> DecodedImage:
    w, h, maxval, off = _pnm_header(data, b"P6")
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = off + w * h * 3
    if len(data) < need:
        raise ValueError("truncated PPM pixel data")
    px = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=off)
    return DecodedImage(pixels=px.reshape(h, w, 3).copy(), fmt="ppm")


def decode_pgm(data: bytes) -> DecodedImage:
    w, h, maxval, off = _pnm_header(data, b"P5")
    if maxval > 255:
        raise ValueError("16-bit PGM not supported")
    need = off + w * h
    if len(data) < need:
        raise ValueError("truncated PGM pixel data")
    px = np.frombuffer(data, dtype=np.uint8, count=w * h, offset=off)
    return DecodedImage(pixels=px.reshape(h, w, 1).copy(), fmt="pgm")


def encode_ppm(pixels: np.ndarray) -> bytes:
    pixels = np.asarray(pixels, dtype=np.uint8)
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    if pixels.shape[2] == 1:
        pixels = np.repeat(pixels, 3, axis=2)
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def encode_pgm(pixels: np.ndarray) -> bytes:
    pixels = np.asarray(pixels, dtype=np.uint8)
    if pixels.ndim == 3:
        pixels = pixels.mean(axis=2).astype(np.uint8)
    h, w = pixels.shape
    return b"P5\n%d %d\n255\n" % (w, h) + pixels.tobytes()


# --------------------------------------------------------------------
# WAV (RIFF PCM)


def decode_wav(data: bytes) -> DecodedAudio:
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    frames = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            frames = body
        pos += 8 + size + (size & 1)  # chunks pad to even sizes
    if fmt is None or frames is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1:
        raise ValueError(f"unsupported WAV format {audio_fmt} (PCM only)")
    if bits == 16:
        raw = np.frombuffer(frames, dtype="<i2")
        samples = raw.astype(np.float64) / 32768.0
    elif bits == 8:
        raw = np.frombuffer(frames, dtype=np.uint8)
        samples = (raw.astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    n = len(samples) // channels
    return DecodedAudio(
        samples=samples[: n * channels].reshape(n, channels),
        sample_rate=rate,
        fmt="wav",
    )


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode (n, channels) float64 in [-1, 1] to 16-bit PCM WAV."""
    samples = np.asarray(samples, dtype=np.float64)
    if samples.ndim == 1:
        samples = samples[:, None]
    pcm = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2")
    channels = pcm.shape[1]
    data = pcm.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


# --------------------------------------------------------------------
# unified entry

_IMAGE_DECODERS = {
    "png": decode_png,
    "bmp": decode_bmp,
    "ppm": decode_ppm,
    "pgm": decode_pgm,
}


def decode_asset(data: bytes) -> DecodedImage | DecodedAudio:
    """Sniff + decode; raises ValueError on unknown/unsupported input.
    This is the single dispatch the multimodal operators call per
    asset inside an Arrow batch."""
    kind = sniff(data)
    if kind in _IMAGE_DECODERS:
        return _IMAGE_DECODERS[kind](data)
    if kind == "wav":
        return decode_wav(data)
    raise ValueError(
        "unrecognized asset container (supported: 8-bit PNG, 24-bit "
        "BMP, binary PPM/PGM, PCM WAV)"
    )


def encode_like(decoded: DecodedImage | DecodedAudio) -> bytes:
    """Re-encode a decoded asset in its ORIGINAL container format —
    the second half of a decode -> transform -> re-encode stage."""
    if isinstance(decoded, DecodedImage):
        if decoded.fmt == "png":
            return encode_png(decoded.pixels)
        if decoded.fmt == "bmp":
            return encode_bmp(decoded.pixels)
        if decoded.fmt == "ppm":
            return encode_ppm(decoded.pixels)
        return encode_pgm(decoded.pixels[:, :, 0])
    return encode_wav(decoded.samples, decoded.sample_rate)
