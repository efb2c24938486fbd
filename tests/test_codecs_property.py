"""Property tests (hypothesis) for the pure-numpy codecs: encode ->
decode is bit-exact for ANY dimensions/content, including the padding
edge cases (BMP rows pad to 4 bytes; RIFF chunks pad to even sizes)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from quanta_contrib.operators.codecs import (
    decode_bmp,
    decode_qvid_frame,
    decode_wav,
    encode_bmp,
    encode_qvid,
    encode_wav,
    qvid_info,
    resize_nearest,
)


def _pixels(h: int, w: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 64),
    w=st.integers(1, 64),  # covers every row-padding residue w*3 % 4
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip(h, w, seed):
    px = _pixels(h, w, seed)
    assert (decode_bmp(encode_bmp(px)) == px).all()


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 5000),  # odd byte counts exercise RIFF even-padding
    sr=st.sampled_from([8000, 16000, 22050, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip(n, sr, seed):
    samples = (
        np.random.default_rng(seed).integers(-32768, 32768, size=n).astype(np.int16)
    )
    out, got_sr = decode_wav(encode_wav(samples, sr))
    assert got_sr == sr
    assert out.shape == (n, 1)
    assert np.array_equal((out[:, 0] * 32768.0).astype(np.int16), samples)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 16),
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    fps=st.integers(1, 120),
    seed=st.integers(0, 2**31 - 1),
)
def test_qvid_roundtrip_every_frame(n, h, w, fps, seed):
    frames = (
        np.random.default_rng(seed).integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    )
    blob = encode_qvid(frames, fps=fps)
    assert qvid_info(blob) == (w, h, n, fps)
    for k in range(n):
        assert (decode_qvid_frame(blob, k) == frames[k]).all()


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 48),
    w=st.integers(1, 48),
    th=st.integers(1, 48),
    tw=st.integers(1, 48),
    seed=st.integers(0, 2**31 - 1),
)
def test_resize_dims_and_value_domain(h, w, th, tw, seed):
    px = _pixels(h, w, seed)
    out = resize_nearest(px, tw, th)
    assert out.shape == (th, tw, 3)
    # nearest-neighbor only ever copies source pixels
    src_vals = {tuple(v) for v in px.reshape(-1, 3)}
    assert all(tuple(v) in src_vals for v in out.reshape(-1, 3)[:32])


def test_png_roundtrip_all_filters_rgb_rgba():
    """Every scanline filter (None/Sub/Up/Average/Paeth) must be
    bit-exact through encode->decode for both RGB and RGBA."""
    import numpy as np

    from quanta_contrib.operators.codecs import decode_png, encode_png

    rng = np.random.default_rng(11)
    for c in (3, 4):
        px = rng.integers(0, 256, size=(37, 23, c), dtype=np.uint8)
        for ft in range(5):
            assert (decode_png(encode_png(px, filter_type=ft)) == px).all(), (c, ft)


def test_png_compresses_and_verifies_crc():
    """PNG is a real compressed container: a constant image deflates
    far below raw size, and a corrupted chunk fails CRC verification."""
    import numpy as np
    import pytest

    from quanta_contrib.operators.codecs import decode_png, encode_png

    px = np.full((64, 64, 3), 200, dtype=np.uint8)
    data = encode_png(px, filter_type=1)
    assert len(data) < 64 * 64 * 3 / 10  # deflate actually compressed
    assert (decode_png(data) == px).all()
    corrupted = bytearray(data)
    corrupted[50] ^= 0xFF  # inside IDAT body
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupted))


def test_png_adam7_roundtrip_all_filters_and_sizes():
    """Adam7 interlace: seven independently-filtered reduced passes
    must reconstruct bit-exactly, including dimensions where some
    passes are empty (w or h < the pass grid) and non-multiple-of-8
    edges."""
    import numpy as np

    from quanta_contrib.operators.codecs import decode_png, encode_png

    rng = np.random.default_rng(13)
    for h, w in ((1, 1), (2, 3), (7, 5), (8, 8), (37, 23), (16, 9)):
        for c in (3, 4):
            px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
            for ft in (0, 1, 4):
                got = decode_png(encode_png(px, filter_type=ft, interlace=True))
                assert (got == px).all(), (h, w, c, ft)
    # interlaced and sequential encodes of the same image agree
    px = rng.integers(0, 256, size=(12, 20, 3), dtype=np.uint8)
    assert (
        decode_png(encode_png(px, interlace=True)) == decode_png(encode_png(px))
    ).all()


def test_png_adam7_truncated_pass_raises():
    import struct
    import zlib

    import numpy as np
    import pytest

    from quanta_contrib.operators.codecs import decode_png, encode_png

    px = np.full((16, 16, 3), 7, dtype=np.uint8)
    data = bytearray(encode_png(px, interlace=True))
    # rebuild with the last pass's bytes chopped from the DEFLATE payload
    i = bytes(data).index(b"IDAT") - 4
    (ln,) = struct.unpack_from(">I", data, i)
    raw = zlib.decompress(bytes(data[i + 8 : i + 8 + ln]))
    short = zlib.compress(raw[:-10])
    chunk = struct.pack(">I", len(short)) + b"IDAT" + short
    chunk += struct.pack(">I", zlib.crc32(chunk[4:]) & 0xFFFFFFFF)
    rebuilt = bytes(data[:i]) + chunk + bytes(data[i + 12 + ln :])
    with pytest.raises(ValueError, match="Adam7"):
        decode_png(rebuilt)


def _widen_dqt_to_16bit(blob: bytes) -> bytes:
    """Rewrite every DQT segment of a JPEG stream to Pq=1 (big-endian
    16-bit entries, same values) — the T.81 B.2.4.1 wide form."""
    import struct

    out = bytearray(blob[:2])  # SOI
    pos = 2
    while pos + 4 <= len(blob):
        marker = blob[pos : pos + 2]
        if marker == b"\xff\xda":  # SOS: copy the rest verbatim
            out += blob[pos:]
            return bytes(out)
        (ln,) = struct.unpack_from(">H", blob, pos + 2)
        body = blob[pos + 4 : pos + 2 + ln]
        if marker == b"\xff\xdb":
            new = bytearray()
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                assert pq == 0  # our encoder always writes 8-bit tables
                new.append((1 << 4) | tq)
                for v in body[off + 1 : off + 65]:
                    new += struct.pack(">H", v)
                off += 65
            out += b"\xff\xdb" + struct.pack(">H", 2 + len(new)) + new
        else:
            out += blob[pos : pos + 2 + ln]
        pos += 2 + ln
    raise AssertionError("no SOS marker found")


def test_jpeg_16bit_quant_tables_decode_identical():
    """A stream whose DQT is rewritten to the 16-bit form (same
    values) must decode bit-identically to the 8-bit original."""
    import numpy as np

    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    for name, px, kw in (
        ("gray", _smooth(24, 17, 1)[:, :, 0], {}),
        ("rgb420", _smooth(24, 17, 2), {"subsampling": "420"}),
    ):
        blob = encode_jpeg(px, quality=60, **kw)
        wide = _widen_dqt_to_16bit(blob)
        assert wide != blob
        assert (decode_jpeg(wide) == decode_jpeg(blob)).all(), name


def test_png_gray_and_gray_alpha_roundtrip():
    """Color types 0 and 4: bit-exact through every filter, sequential
    and Adam7; grayscale decodes to (h, w), gray+alpha to (h, w, 2)."""
    import numpy as np

    from quanta_contrib.operators.codecs import decode_png, encode_png

    rng = np.random.default_rng(17)
    gray = rng.integers(0, 256, size=(19, 31), dtype=np.uint8)
    ga = rng.integers(0, 256, size=(19, 31, 2), dtype=np.uint8)
    for ft in range(5):
        for interlace in (False, True):
            g = decode_png(encode_png(gray, filter_type=ft, interlace=interlace))
            assert g.shape == (19, 31) and (g == gray).all(), (ft, interlace)
            a = decode_png(encode_png(ga, filter_type=ft, interlace=interlace))
            assert a.shape == (19, 31, 2) and (a == ga).all(), (ft, interlace)


def test_png_palette_roundtrip_and_trns():
    """Color type 3: indices map through PLTE to RGB; a tRNS chunk
    adds per-entry alpha (shorter than the palette => opaque tail);
    an index past the palette end fails loudly."""
    import numpy as np
    import pytest

    from quanta_contrib.operators.codecs import decode_png, encode_png_palette

    rng = np.random.default_rng(19)
    pal = rng.integers(0, 256, size=(6, 3), dtype=np.uint8)
    idx = rng.integers(0, 6, size=(13, 27), dtype=np.uint8)
    for ft in (0, 1, 4):
        for interlace in (False, True):
            got = decode_png(encode_png_palette(idx, pal, filter_type=ft, interlace=interlace))
            assert got.shape == (13, 27, 3) and (got == pal[idx]).all(), (ft, interlace)
    # tRNS shorter than the palette: entries 0/1 translucent, rest opaque
    trns = np.array([0, 128], dtype=np.uint8)
    got = decode_png(encode_png_palette(idx, pal, trns=trns))
    assert got.shape == (13, 27, 4)
    assert (got[..., :3] == pal[idx]).all()
    alut = np.array([0, 128, 255, 255, 255, 255], dtype=np.uint8)
    assert (got[..., 3] == alut[idx]).all()
    # out-of-range index rejected at encode; a forged stream at decode
    with pytest.raises(ValueError, match="out of range"):
        encode_png_palette(np.full((4, 4), 6, dtype=np.uint8), pal)
    forged = encode_png_palette(idx, pal)
    # shrink the PLTE to 3 entries so existing indices exceed it
    import struct
    import zlib as _z

    i = forged.index(b"PLTE") - 4
    (ln,) = struct.unpack_from(">I", forged, i)
    small = pal[:3].tobytes()
    chunk = struct.pack(">I", len(small)) + b"PLTE" + small + struct.pack(
        ">I", _z.crc32(b"PLTE" + small) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="out of range"):
        decode_png(forged[:i] + chunk + forged[i + 12 + ln :])


def test_png_palette_missing_plte_raises():
    import numpy as np
    import pytest

    from quanta_contrib.operators.codecs import decode_png, encode_png_palette

    pal = np.zeros((2, 3), dtype=np.uint8)
    data = encode_png_palette(np.zeros((4, 4), dtype=np.uint8), pal)
    i = data.index(b"PLTE") - 4
    import struct

    (ln,) = struct.unpack_from(">I", data, i)
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(data[:i] + data[i + 12 + ln :])


def test_png_rejects_unsupported_shapes():
    import numpy as np
    import pytest

    from quanta_contrib.operators.codecs import decode_png, encode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # hand-build a 16-bit-depth IHDR: decode must name the unsupported depth
    import struct
    import zlib

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_body = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)  # depth 16
    ihdr = (
        struct.pack(">I", len(ihdr_body)) + b"IHDR" + ihdr_body
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_body) & 0xFFFFFFFF)
    )
    with pytest.raises(NotImplementedError, match="depth=16"):
        decode_png(sig + ihdr)


def test_adpcm_roundtrip_snr_and_compression():
    """IMA-ADPCM is lossy by design: require ~4:1 compression vs PCM16
    and >= 20 dB SNR on a sine — the quality contract of the format —
    plus exact length/rate bookkeeping (last block padded)."""
    import numpy as np

    from quanta_contrib.operators.codecs import decode_wav, encode_adpcm_wav, encode_wav

    sr = 16000
    t = np.arange(3000) / sr
    wave = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
    blob = encode_adpcm_wav(wave, sr)
    assert len(encode_wav(wave, sr)) / len(blob) > 3.5
    dec, got_sr = decode_wav(blob)
    assert got_sr == sr and dec.shape[1] == 1
    assert len(dec) >= len(wave)  # padded to block boundary
    err = (dec[: len(wave), 0] * 32768).astype(np.int32) - wave.astype(np.int32)
    snr = 10 * np.log10(
        (wave.astype(np.float64) ** 2).mean() / (err.astype(np.float64) ** 2).mean()
    )
    assert snr >= 20, snr


def test_adpcm_nibble_golden():
    """First nibbles of a known step ramp match the IMA reference
    algorithm computed by hand (pred=100 start, index 0): pins the
    bit-level encode/decode contract, not just statistical quality."""
    import struct

    import numpy as np

    from quanta_contrib.operators.codecs import _ima_decode_nibble, encode_adpcm_wav

    samples = np.array([100, 228, 292, 1000], dtype=np.int16)
    blob = encode_adpcm_wav(samples, 8000, block_align=8)
    # data chunk = last 8 bytes; header: pred=100, index=0
    data = blob[-8:]
    pred, index, _ = struct.unpack_from("<hBB", data, 0)
    assert (pred, index) == (100, 0)
    # hand-decode the first two nibbles and confirm monotone approach
    n0 = data[4] & 0xF
    p1, i1 = _ima_decode_nibble(n0, pred, index)
    assert p1 > pred  # first diff chases 228 upward
    n1 = data[4] >> 4
    p2, _ = _ima_decode_nibble(n1, p1, i1)
    assert abs(p2 - 292) <= abs(p1 - 292)


# ---------------------------------------------------------------------------
# JPEG — baseline DCT codec
# ---------------------------------------------------------------------------


def _smooth(h: int, w: int, seed: int) -> np.ndarray:
    """Low-frequency test image (JPEG's design domain): seeded sums of
    2-D cosines, so quality bounds are stable across shapes."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 3))
    for c in range(3):
        a, b = rng.uniform(0.5, 3, 2)
        img[:, :, c] = 127 + 90 * np.cos(a * np.pi * yy / h) * np.cos(b * np.pi * xx / w)
    return np.clip(img, 0, 255).astype(np.uint8)


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(9, 40),
    w=st.integers(9, 40),
    seed=st.integers(0, 10_000),
)
def test_jpeg_roundtrip_quality_contract(h, w, seed):
    """Dims exact; PSNR >= 30 dB at quality 90 on smooth content —
    the decode is a REAL inverse of the full DCT+Huffman pipeline."""
    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    img = _smooth(h, w, seed)
    out = decode_jpeg(encode_jpeg(img, quality=90))
    assert out.shape == img.shape
    mse = ((out.astype(float) - img.astype(float)) ** 2).mean()
    psnr = 10 * np.log10(255**2 / max(mse, 1e-9))
    assert psnr >= 30.0, psnr


@settings(max_examples=20, deadline=None)
@given(g=st.integers(0, 255), h=st.integers(1, 40), w=st.integers(1, 40))
def test_jpeg_solid_gray_exact_at_q75(g, h, w):
    """quality=75 leaves luma Q[0,0] at exactly 8, so a solid block's
    DC quantizes losslessly and every AC is zero: decode returns the
    EXACT input — the property the q44 solid-media gate relies on."""
    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    img = np.full((h, w, 3), g, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg(img, quality=75)) == g).all()


def test_jpeg_grayscale_and_compression():
    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    img = _smooth(48, 64, 3)[:, :, 0]
    blob = encode_jpeg(img, quality=85)
    assert len(blob) < img.size / 2  # really compressed
    out = decode_jpeg(blob)
    assert out.shape == img.shape and out.ndim == 2
    mse = ((out.astype(float) - img.astype(float)) ** 2).mean()
    assert 10 * np.log10(255**2 / max(mse, 1e-9)) >= 30.0


def test_jpeg_rejects_unsupported_features():
    import struct

    import pytest

    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    blob = bytearray(encode_jpeg(_smooth(16, 16, 1), quality=75))
    i = bytes(blob).index(b"\xff\xc0")
    # flip SOF0 into lossless SOF3 — still unsupported
    lossless = blob[:i] + b"\xff\xc3" + blob[i + 2 :]
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(lossless))
    # SOF2 is supported now, but a baseline-coded scan relabeled
    # progressive has an invalid scan header -> structured error
    prog = blob[:i] + b"\xff\xc2" + blob[i + 2 :]
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(prog))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    # sampling factors beyond 2 still rejected: patch Y sampling to 0x41
    patched = bytearray(blob)
    patched[i + 11] = 0x41  # comp1 sampling nibble pair
    with pytest.raises(NotImplementedError, match="sampling"):
        decode_jpeg(bytes(patched))


def test_mjpeg_roundtrip_and_random_access():
    """Concatenated-JFIF Motion-JPEG: per-frame random access decodes
    only the indexed span; every frame meets the PSNR contract."""
    from quanta_contrib.operators.codecs import (
        decode_mjpeg_frame,
        encode_mjpeg,
        mjpeg_index,
        mjpeg_info,
    )

    frames = np.stack([_smooth(24, 32, s) for s in range(4)])
    blob = encode_mjpeg(frames, quality=90)
    assert mjpeg_info(blob) == (32, 24, 4)
    spans = mjpeg_index(blob)
    assert len(spans) == 4 and spans[0][0] == 0 and spans[-1][1] == len(blob)
    for t in range(4):
        out = decode_mjpeg_frame(blob, t)
        mse = ((out.astype(float) - frames[t].astype(float)) ** 2).mean()
        assert 10 * np.log10(255**2 / max(mse, 1e-9)) >= 30.0


def test_mjpeg_structural_index_not_fooled_by_embedded_eoi():
    """The frame index must come from a STRUCTURAL walk: an FF D9
    byte pair inside a table payload is data, not a frame boundary."""
    from quanta_contrib.operators.codecs import _jpeg_end

    fake = (
        b"\xff\xd8"                       # SOI
        + b"\xff\xdb" + (5).to_bytes(2, "big") + b"\x00\xff\xd9"  # DQT w/ FF D9 payload
        + b"\xff\xd9"                     # real EOI
    )
    assert _jpeg_end(fake, 0) == len(fake)


def test_jpeg_truncated_streams_raise_valueerror_not_indexerror():
    """Corrupt blobs must dead-letter with a structured ValueError,
    never a bare IndexError from past-the-end reads — including the
    nasty case of a stream cut immediately after a 0xFF byte."""
    import pytest

    from quanta_contrib.operators.codecs import _jpeg_end, decode_jpeg, encode_jpeg

    blob = encode_jpeg(_smooth(16, 16, 2), quality=75)
    for cut in (len(blob) - 1, len(blob) // 2, 4, 3):
        t = blob[:cut]
        if t[-1:] != b"\xff":
            t = t + b"\xff"  # force the cut-mid-marker shape too
        # the structural walk always notices the missing EOI
        with pytest.raises(ValueError):
            _jpeg_end(t, 0)
    # cuts into headers/entropy data must raise structurally from the
    # decoder too (cutting ONLY the trailing EOI leaves a decodable
    # scan, so that cut is excluded here)
    for cut in (len(blob) // 2, 4, 3):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(blob[:cut] + b"\xff")


def test_jpeg_decode_fuzz_structured_errors_only():
    """1,500 seeded random byte-corruptions of a valid JPEG: decode
    either succeeds (corruption hit entropy data) or raises
    ValueError/NotImplementedError — NEVER an unstructured
    IndexError/KeyError/OverflowError/struct.error from deep inside
    the parser (what dead-letter routing keys on). Mirrors a 6,000-
    trial sweep that found and fixed DC-category overflow and
    undefined-table KeyError escapes."""
    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    blob = bytearray(encode_jpeg(_smooth(24, 24, 5), quality=80))
    rng = np.random.default_rng(0)
    for _trial in range(1500):
        b = bytearray(blob)
        for _ in range(rng.integers(1, 4)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_all_decoders_fuzz_structured_errors_only():
    """Seeded byte-corruption sweep over EVERY container decoder
    (PNG/WAV/ADPCM/QVID/MJPEG; JPEG has its own test above): decode
    succeeds or raises a structured error the dead-letter router can
    key on — never an unstructured struct.error/KeyError/Overflow."""
    from quanta_contrib.operators import codecs

    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    samples = (np.sin(np.arange(3000) / 10) * 20000).astype(np.int16)
    frames = rng.integers(0, 256, (4, 8, 8, 3), dtype=np.uint8)
    targets = {
        "png": (codecs.encode_png(px, 2), codecs.decode_png),
        "wav": (codecs.encode_wav(samples), lambda b: codecs.decode_wav(b)),
        "adpcm": (codecs.encode_adpcm_wav(samples), lambda b: codecs.decode_wav(b)),
        "qvid": (codecs.encode_qvid(frames), lambda b: codecs.decode_qvid_frame(b, 0)),
        "mjpeg": (codecs.encode_mjpeg(frames), lambda b: codecs.decode_mjpeg_frame(b, 0)),
    }
    for name, (blob, dec) in targets.items():
        blob = bytearray(blob)
        for _trial in range(800):
            b = bytearray(blob)
            for _ in range(rng.integers(1, 4)):
                b[rng.integers(0, len(b))] = rng.integers(0, 256)
            try:
                dec(bytes(b))
            except (ValueError, NotImplementedError):
                pass
            except IndexError as e:
                # ONLY the explicit frame-range check may raise this
                # (corruption shrank the stream below the asked frame);
                # any other IndexError is an unstructured escape
                assert name in ("qvid", "mjpeg") and "out of range" in str(e), (
                    name,
                    e,
                )


def test_adpcm_truncated_partial_block_raises():
    """A data chunk that is not a whole number of blocks must raise the
    structured truncation error, matching the PNG/WAV error contract."""
    import numpy as np
    import pytest

    from quanta_contrib.operators.codecs import decode_wav, encode_adpcm_wav

    sr = 8000
    wave = (np.sin(np.arange(2000) / 10) * 20000).astype(np.int16)
    blob = bytearray(encode_adpcm_wav(wave, sr))
    # chop 3 bytes off the data chunk and patch both RIFF + data sizes
    cut = 3
    import struct

    riff_len = struct.unpack_from("<I", blob, 4)[0]
    struct.pack_into("<I", blob, 4, riff_len - cut)
    data_off = bytes(blob).index(b"data")
    data_len = struct.unpack_from("<I", blob, data_off + 4)[0]
    struct.pack_into("<I", blob, data_off + 4, data_len - cut)
    with pytest.raises(ValueError, match="truncated ADPCM"):
        decode_wav(bytes(blob[: len(blob) - cut]))


def test_jpeg_foreign_encoder_quirks_fill_bytes_and_tem():
    """Spec-legal streams other encoders emit: 0xFF fill bytes before a
    marker and a parameterless TEM (0xFF01) marker must parse in both
    the decode header walk and the structural end-of-frame walk."""
    from quanta_contrib.operators.codecs import _jpeg_end, decode_jpeg, encode_jpeg

    img = _smooth(16, 16, 9)
    blob = encode_jpeg(img, quality=90)
    # insert fill bytes + TEM right after SOI (before the first segment)
    quirky = blob[:2] + b"\xff\xff\xff\x01" + blob[2:]
    out = decode_jpeg(quirky)
    assert out.shape == img.shape
    assert (out == decode_jpeg(blob)).all()
    assert _jpeg_end(quirky, 0) == len(quirky)


def test_pq_centroids_small_corpus_named_error(spark):
    import pytest

    from quanta_contrib.operators.similarity import _pq_centroids

    df = spark.createDataFrame(
        [(f"v{i}", [float(i)] * 8) for i in range(3)], "vec_id string, embedding array<float>"
    )
    with pytest.raises(ValueError, match="n_cent=16"):
        _pq_centroids(df, n_cent=16, n_sub=2, sub_dim=4)


def test_hyperplane_signature_rejects_existing_bucket_column(spark):
    import pytest

    from quanta_contrib.operators.similarity import hyperplane_signature

    df = spark.createDataFrame(
        [("v0", [0.0] * 8, 1)], "vec_id string, embedding array<float>, bucket int"
    )
    with pytest.raises(ValueError, match="bucket"):
        hyperplane_signature(df, n_bits=4, dim=8)


def _chroma_smooth(h: int, w: int, seed: int) -> np.ndarray:
    """Test image with FIXED-wavelength (>= 24 px) chroma and faster
    luma — 4:2:0's design domain. _smooth scales one cosine period to
    the image, so at small dims its chroma sits near Nyquist, which
    2x2 subsampling discards BY DESIGN (libjpeg behaves identically);
    a 30 dB contract is only honest on chroma-smooth content."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    y = 127 + 80 * np.cos(2 * np.pi * yy / 17) * np.cos(2 * np.pi * xx / 19)
    cb = 20 * np.cos(2 * np.pi * (yy + rng.uniform(0, 16)) / 24)
    cr = 20 * np.sin(2 * np.pi * (xx + rng.uniform(0, 16)) / 28)
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


@given(
    h=st.integers(9, 40),
    w=st.integers(9, 40),
    seed=st.integers(0, 30),
)
@settings(max_examples=12, deadline=None)
def test_jpeg_420_roundtrip_quality_contract(h, w, seed):
    """4:2:0 round-trip on chroma-smooth content: >= 30 dB PSNR at
    q90; odd dims exercise the MCU edge padding."""
    import numpy as np

    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    img = _chroma_smooth(h, w, seed)
    out = decode_jpeg(encode_jpeg(img, quality=90, subsampling="420"))
    assert out.shape == img.shape and out.dtype == np.uint8
    mse = ((out.astype(np.float64) - img.astype(np.float64)) ** 2).mean()
    psnr = 10 * np.log10(255.0**2 / max(mse, 1e-12))
    assert psnr >= 30, psnr


@given(g=st.integers(0, 255), h=st.integers(8, 33), w=st.integers(8, 33))
@settings(max_examples=15, deadline=None)
def test_jpeg_420_solid_gray_exact_at_q75(g, h, w):
    """Solid gray survives 4:2:0 exactly: constant chroma is invariant
    under 2x2 mean + nearest upsample, and the luma DC quantizes
    losslessly at q75 — same invariant the q44 oracle uses for 4:4:4."""
    import numpy as np

    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    img = np.full((h, w, 3), g, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg(img, quality=75, subsampling="420")) == g).all()


def test_jpeg_420_is_smaller_than_444():
    import numpy as np

    from quanta_contrib.operators.codecs import encode_jpeg

    rng = np.random.default_rng(3)
    base = _smooth(64, 64, 11)
    b444 = encode_jpeg(base, quality=85)
    b420 = encode_jpeg(base, quality=85, subsampling="420")
    assert len(b420) < len(b444)


@given(
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    q=st.sampled_from([20, 50, 75, 90]),
    sub=st.sampled_from(["444", "420", "422"]),
    seed=st.integers(0, 30),
)
@settings(max_examples=18, deadline=None)
def test_jpeg_progressive_matches_baseline_bit_exact(h, w, q, sub, seed):
    """Progressive (SOF2: DC successive approximation + refinement, AC
    spectral selection at bit 1 + AC refinement, cross-block EOB runs)
    encodes the SAME quantized coefficients as baseline — so decode
    must match the baseline decode bit-for-bit, at every supported
    chroma subsampling (interleaved-DC MCU geometry included)."""
    from quanta_contrib.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    img = _smooth(h, w, seed)
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=q, subsampling=sub))
    base = decode_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
    assert (prog == base).all()


def test_jpeg_progressive_noise_gray_solid_and_structure():
    """Noise content (dense AC symbols), grayscale, and the all-zero-AC
    solid image (one EOB run spanning every block) all round-trip; the
    structural frame walk handles the multi-scan layout."""
    import numpy as np

    from quanta_contrib.operators.codecs import (
        _jpeg_end,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(0)
    noise = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    assert (
        decode_jpeg(encode_jpeg_progressive(noise, quality=70))
        == decode_jpeg(encode_jpeg(noise, quality=70))
    ).all()
    g = noise[:, :, 0].copy()
    assert (
        decode_jpeg(encode_jpeg_progressive(g, quality=85))
        == decode_jpeg(encode_jpeg(g, quality=85))
    ).all()
    solid = np.full((48, 56, 3), 190, dtype=np.uint8)
    blob = encode_jpeg_progressive(solid, quality=75)
    assert (decode_jpeg(blob) == 190).all()
    assert _jpeg_end(blob, 0) == len(blob)


def test_jpeg_progressive_subsampled_noise_and_solid():
    """Progressive + chroma subsampling: noise content (dense AC
    symbols and correction bits) at odd dimensions must stay
    bit-identical to the baseline decode for 4:2:0 and 4:2:2, and
    solid gray stays exact at q75 (the oracle invariant)."""
    import numpy as np

    from quanta_contrib.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, size=(23, 37, 3), dtype=np.uint8)
    for sub in ("420", "422"):
        assert (
            decode_jpeg(encode_jpeg_progressive(noise, quality=70, subsampling=sub))
            == decode_jpeg(encode_jpeg(noise, quality=70, subsampling=sub))
        ).all()
        solid = np.full((17, 29, 3), 128, dtype=np.uint8)
        blob = encode_jpeg_progressive(solid, quality=75, subsampling=sub)
        assert (decode_jpeg(blob) == 128).all()


def test_jpeg_ac_refine_zrl_correction_span_regression():
    """Regression: the AC refinement encoder must group correction
    bits by the span each symbol covers — a ZRL covers only up to its
    16th zero-history coefficient, so corrections located beyond that
    span belong to the NEXT symbol. The old encoder flushed the whole
    correction buffer at the first ZRL, desyncing the decoder's G.7
    walk (found by round-trip fuzzing: gray noise at 9x13 blocks with
    >16-zero runs straddling already-nonzero coefficients)."""
    import numpy as np

    from quanta_contrib.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(0)
    for trial in range(40):
        h, w = int(rng.integers(8, 33)), int(rng.integers(8, 33))
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        prog = decode_jpeg(encode_jpeg_progressive(img, quality=80))
        base = decode_jpeg(encode_jpeg(img, quality=80))
        assert (prog == base).all(), (h, w, trial)


@given(
    h=st.integers(9, 48),
    w=st.integers(9, 48),
    ri=st.sampled_from([1, 2, 3, 7, 100]),
    sub=st.sampled_from(["444", "420"]),
    seed=st.integers(0, 20),
)
@settings(max_examples=12, deadline=None)
def test_jpeg_restart_intervals_roundtrip(h, w, ri, sub, seed):
    """DRI/RSTn streams (the error-resilience feature camera encoders
    emit) decode identically to the marker-free stream: DC prediction
    resets at each marker on both sides, so the coefficients match."""
    from quanta_contrib.operators.codecs import _jpeg_end, decode_jpeg, encode_jpeg

    img = _smooth(h, w, seed)
    bri = encode_jpeg(img, quality=90, subsampling=sub, restart_interval=ri)
    b0 = encode_jpeg(img, quality=90, subsampling=sub)
    assert (decode_jpeg(bri) == decode_jpeg(b0)).all()
    assert _jpeg_end(bri, 0) == len(bri)


def test_jpeg_restart_marker_sequence_validated():
    import pytest

    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg

    blob = bytearray(encode_jpeg(_smooth(40, 33, 2), quality=90, restart_interval=3))
    i = bytes(blob).index(b"\xff\xd0")
    blob[i + 1] = 0xD5  # out-of-sequence RST index
    with pytest.raises(ValueError, match="restart marker"):
        decode_jpeg(bytes(blob))
    with pytest.raises(ValueError, match="restart_interval"):
        encode_jpeg(_smooth(8, 8, 1), restart_interval=-1)


def test_jpeg_progressive_fuzz_structured_errors_only():
    """Same corruption contract for the PROGRESSIVE decode path: 1,000
    seeded random byte-corruptions of a valid SOF2 stream either decode
    or raise ValueError/NotImplementedError — never an unstructured
    IndexError/KeyError/struct.error from the scan-script state
    machine (EOB runs, refinement bits, per-scan table snapshots)."""
    from quanta_contrib.operators.codecs import decode_jpeg, encode_jpeg_progressive

    blob = bytearray(encode_jpeg_progressive(_smooth(24, 24, 5), quality=80))
    rng = np.random.default_rng(1)
    for _trial in range(1000):
        b = bytearray(blob)
        for _ in range(rng.integers(1, 4)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(b))
        except (ValueError, NotImplementedError):
            pass
