"""Real multimodal decode: PNG/BMP/PPM/PGM/WAV codecs (llm/codecs.py) and
llm/multimodal.extract_features over genuine container
bytes. Fixtures are built INDEPENDENTLY of the codecs under test where
possible — WAV via the stdlib `wave` module, BMP by hand with struct —
so an encoder bug cannot cancel a decoder bug."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest

from crane_spark.llm import codecs

# ------------------------------------------------------------------
# fixture builders (independent of the codecs)


def handmade_bmp(pixels_rgb: np.ndarray) -> bytes:
    """24-bit bottom-up BMP written directly from the spec: BGR byte
    order, rows padded to 4-byte boundaries, 54-byte header."""
    h, w, _ = pixels_rgb.shape
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = pixels_rgb[y, x]
            row += bytes([b, g, r])
        row += b"\x00" * (row_bytes - len(row))
        body += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return header + info + bytes(body)


def stdlib_wav(samples: np.ndarray, rate: int, channels: int = 1) -> bytes:
    """16-bit PCM WAV written by the stdlib wave module (the
    independent oracle)."""
    pcm = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def rng_pixels(h, w, c=3, seed=7):
    return np.random.default_rng(seed).integers(0, 256, (h, w, c), dtype=np.uint8)


# ------------------------------------------------------------------
# codec unit tests


def test_bmp_decode_matches_handmade_fixture():
    px = rng_pixels(5, 3)  # odd width -> row padding exercised
    dec = codecs.decode_bmp(handmade_bmp(px))
    assert (dec.width, dec.height, dec.channels) == (3, 5, 3)
    assert np.array_equal(dec.pixels, px)  # RGB order + bottom-up flip


def test_bmp_top_down_negative_height():
    px = rng_pixels(4, 4)
    data = bytearray(handmade_bmp(px[::-1]))  # rows stored top-down
    struct.pack_into("<i", data, 22, -4)  # negative height = top-down
    dec = codecs.decode_bmp(bytes(data))
    assert np.array_equal(dec.pixels, px)


def test_bmp_roundtrip_and_sniff():
    px = rng_pixels(6, 7)
    enc = codecs.encode_bmp(px)
    assert codecs.sniff(enc) == "bmp"
    assert np.array_equal(codecs.decode_bmp(enc).pixels, px)


def test_bmp_rejects_unsupported():
    with pytest.raises(ValueError, match="bit depth"):
        data = bytearray(codecs.encode_bmp(rng_pixels(2, 2)))
        struct.pack_into("<H", data, 28, 8)  # claim 8bpp
        codecs.decode_bmp(bytes(data))
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_bmp(codecs.encode_bmp(rng_pixels(4, 4))[:-8])


def test_ppm_header_comments_and_roundtrip():
    px = rng_pixels(2, 3)
    body = px.tobytes()
    handmade = b"P6\n# a comment\n3 2\n# another\n255\n" + body
    dec = codecs.decode_ppm(handmade)
    assert np.array_equal(dec.pixels, px)
    enc = codecs.encode_ppm(px)
    assert codecs.sniff(enc) == "ppm"
    assert np.array_equal(codecs.decode_ppm(enc).pixels, px)


def test_pgm_roundtrip():
    gray = rng_pixels(4, 5, 1)[:, :, 0]
    enc = codecs.encode_pgm(gray)
    assert codecs.sniff(enc) == "pgm"
    dec = codecs.decode_pgm(enc)
    assert dec.channels == 1
    assert np.array_equal(dec.pixels[:, :, 0], gray)


def test_wav_decode_matches_stdlib_writer():
    t = np.linspace(0, 1, 800, endpoint=False)
    wave_samples = 0.5 * np.sin(2 * np.pi * 440 * t)
    data = stdlib_wav(wave_samples, 8000)
    dec = codecs.decode_wav(data)
    assert (dec.sample_rate, dec.channels, dec.n_frames) == (8000, 1, 800)
    assert np.allclose(dec.samples[:, 0], wave_samples, atol=1.5 / 32768)


def test_wav_stereo_and_roundtrip_via_stdlib_reader():
    rng = np.random.default_rng(3)
    stereo = rng.uniform(-0.9, 0.9, (200, 2))
    enc = codecs.encode_wav(stereo, 16000)
    assert codecs.sniff(enc) == "wav"
    # our encoder must be readable by the stdlib wave module
    with wave.open(io.BytesIO(enc), "rb") as wf:
        assert wf.getnchannels() == 2
        assert wf.getframerate() == 16000
        assert wf.getnframes() == 200
    dec = codecs.decode_wav(enc)
    assert np.allclose(dec.samples, stereo, atol=1.5 / 32768)


def test_decode_asset_dispatch_and_unknown():
    assert codecs.decode_asset(codecs.encode_ppm(rng_pixels(2, 2))).fmt == "ppm"
    assert codecs.decode_asset(stdlib_wav(np.zeros(10), 8000)).fmt == "wav"
    with pytest.raises(ValueError, match="unrecognized"):
        codecs.decode_asset(b"GIF89a not a supported container")
    # a PNG signature with garbage after it is recognized as PNG and
    # fails with a PNG-specific error, not "unrecognized"
    with pytest.raises(ValueError, match="PNG"):
        codecs.decode_asset(b"\x89PNG\r\n\x1a\n garbage chunk data")


def test_encode_like_preserves_container():
    for make in (
        lambda: codecs.decode_bmp(codecs.encode_bmp(rng_pixels(3, 3))),
        lambda: codecs.decode_ppm(codecs.encode_ppm(rng_pixels(3, 3))),
        lambda: codecs.decode_wav(codecs.encode_wav(np.zeros((16, 1)), 8000)),
    ):
        dec = make()
        assert codecs.sniff(codecs.encode_like(dec)) == dec.fmt


# ------------------------------------------------------------------
# Spark-level real-decode paths (extract_features)


def _real_assets(spark):
    img = rng_pixels(8, 8)
    gray = rng_pixels(4, 6, 1)[:, :, 0]
    t = np.linspace(0, 1, 400, endpoint=False)
    audio = 0.25 * np.sin(2 * np.pi * 220 * t)
    rows = [
        (0, bytearray(handmade_bmp(img)), "image/bmp"),
        (1, bytearray(codecs.encode_ppm(img)), "image/x-portable-pixmap"),
        (2, bytearray(codecs.encode_pgm(gray)), "image/x-portable-graymap"),
        (3, bytearray(stdlib_wav(audio, 8000)), "audio/wav"),
        (4, bytearray(b"not a real container"), "application/octet-stream"),
    ]
    df = spark.createDataFrame(rows, "asset_id long, data binary, mime string")
    return df, img, gray, audio


def test_real_feature_extraction(spark):
    from crane_spark.llm.multimodal import extract_features

    df, img, gray, audio = _real_assets(spark)
    out = {r["asset_id"]: r for r in extract_features(df).collect()}
    # BMP and PPM hold the SAME pixels -> identical image features
    f_bmp, f_ppm = out[0]["feature"], out[1]["feature"]
    assert f_bmp[:4] == [0.0, 8.0, 8.0, 3.0]
    assert f_bmp == f_ppm
    assert f_bmp[4] == pytest.approx(img.mean() / 255.0)
    assert f_bmp[5] == pytest.approx(img.std() / 255.0)
    f_gray = out[2]["feature"]
    assert f_gray[:4] == [0.0, 6.0, 4.0, 1.0]
    f_wav = out[3]["feature"]
    assert f_wav[:4] == [1.0, 400.0, 8000.0, 1.0]
    assert f_wav[4] == pytest.approx(np.sqrt((audio**2).mean()), abs=1e-3)
    assert out[4]["feature"] is None  # quarantined


# ------------------------------------------------------------------
# property-based fuzzing (hypothesis): roundtrips over arbitrary
# shapes/values, and decoder robustness against mutated bytes


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_ppm_pgm_roundtrip_any_shape(h, w, seed):
    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(px)).pixels, px)
    assert np.array_equal(codecs.decode_ppm(codecs.encode_ppm(px)).pixels, px)
    gray = px[:, :, 0]
    assert np.array_equal(codecs.decode_pgm(codecs.encode_pgm(gray)).pixels[:, :, 0], gray)


@given(
    n=st.integers(min_value=1, max_value=500),
    ch=st.integers(min_value=1, max_value=3),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_wav_roundtrip_any_shape(n, ch, rate, seed):
    s = np.random.default_rng(seed).uniform(-1, 1, (n, ch))
    dec = codecs.decode_wav(codecs.encode_wav(s, rate))
    assert (dec.n_frames, dec.channels, dec.sample_rate) == (n, ch, rate)
    assert np.allclose(dec.samples, s, atol=1.5 / 32768)


@given(data=st.binary(min_size=0, max_size=300))
@settings(max_examples=60, deadline=None)
def test_decoders_never_crash_on_garbage(data):
    """Arbitrary bytes must produce ValueError (or a clean decode if
    hypothesis stumbles onto a valid container) — never an unhandled
    IndexError/struct.error/overflow, because one malformed asset in
    a 100 TB scan must quarantine, not kill the job."""
    import struct as _struct

    for fn in (codecs.decode_asset, codecs.decode_bmp, codecs.decode_ppm,
               codecs.decode_pgm, codecs.decode_wav):
        try:
            fn(data)
        except (ValueError, _struct.error):
            pass  # the contract multimodal.py catches


@given(seed=st.integers(min_value=0, max_value=2**31 - 1),
       cut=st.integers(min_value=0, max_value=200))
@settings(max_examples=40, deadline=None)
def test_truncated_real_containers_fail_cleanly(seed, cut):
    """Prefixes of VALID containers (the realistic corruption: a
    partial upload) must also raise cleanly."""
    import struct as _struct

    px = np.random.default_rng(seed).integers(0, 256, (6, 6, 3), dtype=np.uint8)
    for data in (codecs.encode_bmp(px), codecs.encode_ppm(px),
                 codecs.encode_wav(np.zeros((50, 1)), 8000)):
        trunc = data[: min(cut, len(data) - 1)]
        try:
            codecs.decode_asset(trunc)
        except (ValueError, _struct.error):
            pass


# ------------------------------------------------------------------
# PNG


def _png_with_filters(px, filters):
    """Build a spec-conformant RGB PNG whose scanlines use the GIVEN
    per-row filter types — an independent construction of the filter
    algebra (forward direction from the spec) so decode_png's
    unfiltering is tested against hand-filtered data, not against our
    own encoder."""
    import struct
    import zlib

    h, w, _ = px.shape
    bpp = 3
    out = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        out.append(f)
        if f == 0:
            enc = row
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = (row - left) & 0xFF
        elif f == 2:  # Up
            enc = (row - prev) & 0xFF
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = (row - ((left + prev) >> 1)) & 0xFF
        else:  # Paeth
            enc = np.zeros_like(row)
            for x in range(w * bpp):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (row[x] - pred) & 0xFF
        out.extend(int(v) & 0xFF for v in enc)
        prev = row

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_png_all_filter_types_decode_exactly():
    """Every scanline filter (None/Sub/Up/Average/Paeth), forward-
    filtered independently from the spec, must unfilter back to the
    original pixels."""
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (10, 7, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        dec = codecs.decode_png(_png_with_filters(px, filters))
        assert dec.fmt == "png" and np.array_equal(dec.pixels, px), filters


def test_png_roundtrip_rgb_and_gray_and_sniff():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (9, 5, 3), dtype=np.uint8)
    data = codecs.encode_png(px)
    assert codecs.sniff(data) == "png"
    assert np.array_equal(codecs.decode_png(data).pixels, px)
    gray = px[:, :, 0]
    dec = codecs.decode_png(codecs.encode_png(gray))
    assert dec.channels == 1 and np.array_equal(dec.pixels[:, :, 0], gray)


def test_png_palette_alpha_and_errors():
    import struct
    import zlib as _z

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # paletted 2x2: indices [[0,1],[1,0]] expand through PLTE to RGB
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 0, 255])
    scan = bytes([0, 0, 1, 0, 1, 0])
    data = (
        sig
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", _z.compress(scan))
        + chunk(b"IEND", b"")
    )
    dec = codecs.decode_png(data)
    want = np.array(
        [[[255, 0, 0], [0, 0, 255]], [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8
    )
    assert np.array_equal(dec.pixels, want)

    # RGBA strips alpha
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0)
    data = (
        sig
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(bytes([0, 10, 20, 30, 99])))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(
        codecs.decode_png(data).pixels, np.array([[[10, 20, 30]]], dtype=np.uint8)
    )

    # CRC corruption fails loudly
    good = codecs.encode_png(np.zeros((3, 3, 3), dtype=np.uint8))
    bad = bytearray(good)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError):
        codecs.decode_png(bytes(bad))
    # interlaced rejected
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1)
    with pytest.raises(ValueError):
        codecs.decode_png(
            sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", _z.compress(b"\0" * 4))
            + chunk(b"IEND", b"")
        )


def test_png_decode_asset_dispatch_and_encode_like():
    px = np.random.default_rng(11).integers(0, 256, (4, 6, 3), dtype=np.uint8)
    data = codecs.encode_png(px)
    dec = codecs.decode_asset(data)
    assert dec.fmt == "png"
    again = codecs.encode_like(dec)
    assert codecs.sniff(again) == "png"
    assert np.array_equal(codecs.decode_png(again).pixels, px)


@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_any_shape(h, w, seed):
    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(px)).pixels, px)


@given(seed=st.integers(min_value=0, max_value=2**31 - 1),
       cut=st.integers(min_value=0, max_value=200))
@settings(max_examples=40, deadline=None)
def test_png_truncation_fails_cleanly(seed, cut):
    import struct as _struct

    px = np.random.default_rng(seed).integers(0, 256, (6, 6, 3), dtype=np.uint8)
    data = codecs.encode_png(px)
    try:
        codecs.decode_png(data[: min(cut, len(data) - 1)])
    except (ValueError, _struct.error):
        pass
