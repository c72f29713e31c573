"""Round-7 hostile-blob hardening (ADVICE r6 medium + verdict task #9):
the decoders run INSIDE Spark tasks over mixed/untrusted corpora, so a
crafted payload must fail soft to None — never a multi-GB allocation, an
unbounded inflate, an uncaught OverflowError, or a TypeError on a NULL
blob cell."""

from __future__ import annotations

import struct
import zlib

import numpy as np

import smartdatapipeline_spark.functions.multimodal as MM


def _png(w, h, ctype, idat_raw, depth=8):
    """Hand-assembled PNG with arbitrary header dims / IDAT payload."""

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat_raw)
        + chunk(b"IEND", b"")
    )


# --------------------------------------------------- PNG hostility


def test_png_decompression_bomb_returns_none():
    """A few-KB IDAT that inflates to ~1 GB must be rejected by the
    bounded inflate (max_length + eof check), not decompressed."""
    # 512×512 gray header (within pixel budget) but a bomb IDAT that
    # wants to inflate to 1 GB — far past the (stride+1)*h expectation
    bomb = zlib.compress(b"\x00" * (1 << 30), 9)  # ~1 MB compressed
    assert len(bomb) < (1 << 21)
    assert MM.parse_png_pixels(_png(512, 512, 0, bomb)) is None


def test_png_hostile_dims_rejected_before_alloc():
    """65535×65535 declared dims (4.3G pixels) exceed _MAX_PIXELS and
    must return None before any allocation or inflate."""
    tiny = zlib.compress(b"\x00" * 10)
    assert MM.parse_png_pixels(_png(65535, 65535, 2, tiny)) is None


def test_png_short_stream_still_fails_soft():
    """An IDAT that inflates to FEWER bytes than the scanlines need is
    malformed, not a crash."""
    short = zlib.compress(b"\x00" * 5)
    assert MM.parse_png_pixels(_png(4, 4, 0, short)) is None


def test_png_exact_stream_still_decodes():
    """The bounded inflate must not break the happy path: a valid
    encode_png round-trip still decodes bit-exact."""
    img = bytes(range(48))  # 4×4 RGB
    enc = MM.encode_png(4, 4, 3, img)
    got = MM.parse_png_pixels(enc)
    assert got == (4, 4, 3, img)


# -------------------------------------------------- JPEG hostility


def _seg(marker, payload):
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _hand_jpeg(scan_bytes, w=8, h=8, dht_override=None):
    """Single-component baseline JPEG with hand-controlled tables."""
    zig = list(MM._ZIGZAG)
    q = np.ones(64, np.int32)
    out = [b"\xff\xd8", _seg(0xDB, bytes([0]) + bytes(q[zig].tolist()))]
    out.append(
        _seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0)))
    )
    for tc in (0, 1):
        if dht_override and tc in dht_override:
            bits, vals = dht_override[tc]
        else:
            bits, vals = MM._STD_HUFF[(tc, 0)]
        out.append(_seg(0xC4, bytes([tc << 4]) + bytes(bits) + bytes(vals)))
    out.append(_seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00"))
    return b"".join(out) + scan_bytes + b"\xff\xd9"


def test_jpeg_hostile_sof_dims_rejected():
    """A few-hundred-byte stream declaring 65535×65535 must return None
    before allocating the coefficient planes (pre-fix: ~17 GB numpy)."""
    assert MM.parse_jpeg_pixels(_hand_jpeg(b"\x00", w=65535, h=65535)) is None


def test_jpeg_dc_category_overflow_fails_soft():
    """A crafted DHT mapping a 1-bit code to DC category 40 would read
    a 40-bit magnitude into an int32 block (uncaught OverflowError
    pre-fix) — must fail soft to None."""
    # DC table: single symbol 40 on a 1-bit code; plenty of scan bytes
    # so the magnitude read itself succeeds
    dht = {0: ([1] + [0] * 15, [40])}
    blob = _hand_jpeg(b"\x55" * 16, dht_override=dht)
    assert MM.parse_jpeg_pixels(blob) is None


def test_jpeg_dc_category_12_to_15_fails_soft_not_crash():
    """Out-of-baseline-spec but sub-16 categories accumulate dcpred past
    int32 only via repetition; either way the decode must not raise."""
    dht = {0: ([1] + [0] * 15, [15])}
    blob = _hand_jpeg(b"\xff\x00" * 40, dht_override=dht)
    assert MM.parse_jpeg_pixels(blob) in (None,) or isinstance(
        MM.parse_jpeg_pixels(blob), tuple
    )


def test_jpeg_truncated_scan_fails_soft():
    enc = MM.encode_jpeg(16, 16, 1, bytes((i * 7) % 256 for i in range(256)))
    sos = enc.find(b"\xff\xda")
    for cut in (sos + 14, sos + 20, len(enc) - 3):
        assert MM.parse_jpeg_pixels(enc[:cut]) is None


def test_jpeg_bad_restart_interval_fails_soft():
    """DRI declares restarts every MCU but the stream has none — the
    decoder must return None (missing restart segment), not wedge."""
    enc = MM.encode_jpeg(32, 8, 1, bytes(256), restart_interval=1)
    # strip all restart markers from the entropy stream
    sos = enc.find(b"\xff\xda")
    head, scan = enc[: sos + 14], enc[sos + 14 :]
    for m in range(0xD0, 0xD8):
        scan = scan.replace(bytes([0xFF, m]), b"")
    assert MM.parse_jpeg_pixels(head + scan) is None


def test_jpeg_overlong_huffman_code_fails_soft():
    """An all-ones bitstream never matches a code in a table whose max
    length is < 16 — _huff_read must raise _Trunc internally → None."""
    dht = {0: ([0, 1] + [0] * 14, [0])}  # single 2-bit code '00'
    blob = _hand_jpeg(b"\xff\x00" * 8, dht_override=dht)
    assert MM.parse_jpeg_pixels(blob) is None


def test_extract_features_still_oracle_shaped(spark):
    """The NULL-guard rewrite must not change values for non-NULL blobs
    (the md5-derived features are oracle-checked downstream)."""
    import hashlib

    df = spark.createDataFrame(
        [(7, bytearray(b"hello world"))], "doc_id long, blob binary"
    )
    r = MM.extract_features(df).collect()[0]
    d = hashlib.md5(b"hello world").hexdigest()
    assert r["n_bytes"] == 11
    assert r["header_hash"] == int(d[:15], 16)
    assert r["feat_0"] == int(d[0:8], 16) / 4294967296.0


# --------------------------------------------------- GIF hostility


def _gif_wrap(lzw_payload: bytes, w=4, h=4, min_code=2) -> bytes:
    head = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80, 0, 0])
    gct = bytes(12)  # 4-entry table
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    body = bytes([min_code])
    for i in range(0, len(lzw_payload), 255):
        chunk = lzw_payload[i : i + 255]
        body += bytes([len(chunk)]) + chunk
    return head + gct + desc + body + b"\0\x3b"


def test_gif_canonical_published_golden():
    """The widely-published 1x1 white GIF89a reference bytes."""
    g = bytes.fromhex(
        "474946383961010001008000"
        "00ffffff000000"
        "21f90401000000"
        "002c000000000100010000"
        "0202440100"
        "3b"
    )
    assert MM.parse_gif_pixels(g) == (1, 1, 3, b"\xff\xff\xff")


def test_gif_hostile_dims_rejected():
    import smartdatapipeline_spark.functions.multimodal as M

    g = MM.encode_gif(2, 2, bytes(12))
    big = g[:6] + struct.pack("<HH", 65535, 65535) + g[10:]
    # image descriptor dims are what the decoder allocates from
    bad = bytearray(MM.encode_gif(2, 2, bytes(12)))
    di = bad.index(b"\x2c")
    bad[di + 5 : di + 9] = struct.pack("<HH", 65535, 65535)
    assert M.parse_gif_pixels(bytes(bad)) is None


def test_gif_overlong_lzw_stream_capped():
    """A stream that keeps emitting past w*h pixels must be rejected,
    not ballooned (the LZW analogue of the PNG bomb)."""
    good = MM.encode_gif(4, 4, bytes(48))
    # re-wrap the same LZW payload against a 2x2 descriptor: 16 pixels
    # of output for a 4-pixel frame
    di = good.index(b"\x2c")
    lzw = good[di + 11 :]
    # strip sub-block framing back to raw payload
    raw = bytearray()
    pos = 0
    while lzw[pos] != 0:
        raw += lzw[pos + 1 : pos + 1 + lzw[pos]]
        pos += 1 + lzw[pos]
    assert MM.parse_gif_pixels(_gif_wrap(bytes(raw), w=2, h=2)) is None


def test_gif_truncated_and_garbage_fail_soft():
    enc = MM.encode_gif(8, 8, bytes(b % 256 for b in range(192)))
    for cut in (10, 14, len(enc) // 2, len(enc) - 2):
        assert MM.parse_gif_pixels(enc[:cut]) is None
    assert MM.parse_gif_pixels(b"GIF89a" + b"\xff" * 40) is None


def test_gif_out_of_range_color_index_fails_soft():
    """An LZW stream referencing palette index 3 with a 2-color table
    (table size 4, ncol from header smaller) must NULL, not read past
    the palette."""
    # encode with 4 colors, then shrink the GCT size field to 2 entries
    rgb = bytes(
        b
        for i in range(16)
        for b in ([0, 0, 0], [1, 1, 1], [2, 2, 2], [3, 3, 3])[i % 4]
    )
    enc = bytearray(MM.encode_gif(4, 4, rgb))
    # GCT size field: packed byte at offset 10, low 3 bits
    enc[10] = (enc[10] & 0xF8) | 0  # claim a 2-entry table
    # remove the now-extra 6 palette bytes so the stream still parses
    del enc[13 + 6 : 13 + 12]
    assert MM.parse_gif_pixels(bytes(enc)) is None


def test_unified_dispatcher_handles_gif(spark):
    rgb = bytes(range(12))
    g = MM.encode_gif(2, 2, rgb)
    got = MM.parse_any_pixels(g)
    assert got == ("gif", 2, 2, 3, rgb)


# --------------------------------------------------- WAV hostility


def test_wav_sample_roundtrip_and_stereo_first_channel():
    x = np.sin(np.arange(300) * 0.07)
    mono = MM.parse_wav_samples(MM.encode_wav(x, 8000, 16, 1))
    stereo = MM.parse_wav_samples(MM.encode_wav(x, 8000, 16, 2))
    assert mono[2] == 300 and stereo[0] == 2
    assert np.array_equal(mono[3], stereo[3])
    pcm = np.clip(np.round(x * 32768.0), -32768, 32767)
    assert np.array_equal(np.round(mono[3] * 32768.0), pcm)


def test_wav_out_of_contract_fails_soft():
    x = np.zeros(10)
    enc = bytearray(MM.encode_wav(x, 8000, 16, 1))
    float_fmt = bytearray(enc)
    float_fmt[20] = 3  # IEEE-float audio format
    assert MM.parse_wav_samples(bytes(float_fmt)) is None
    bad_block = bytearray(enc)
    bad_block[32] = 7  # block align inconsistent with ch*bits/8
    assert MM.parse_wav_samples(bytes(bad_block)) is None
    assert MM.parse_wav_samples(bytes(enc[:24])) is None
    assert MM.parse_wav_samples(None) is None
    # declared data length past the actual bytes -> truncated chunk
    trunc = bytearray(enc)
    trunc[-12] = 0xFF  # inflate the data chunk length field region
    # (position varies; just assert no crash on arbitrary corruption)
    MM.parse_wav_samples(bytes(trunc))


def test_wav_hostile_frame_count_rejected():
    """A data chunk declaring more frames than _MAX_PIXELS must be
    rejected before feature math."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    # declare a huge data chunk but supply the bytes (zeros) lazily is
    # impossible in-memory at 2^25 frames x 2B = 64 MB — acceptable to
    # build; the guard must still reject it
    n = MM._MAX_PIXELS + 1
    body += b"data" + struct.pack("<I", n * 2) + bytes(n * 2)
    assert MM.parse_wav_samples(b"RIFF" + struct.pack("<I", len(body)) + body) is None


def test_wav_kernel_null_and_feature_exactness(spark):
    x = np.array([0.0, 0.5, -0.5, 0.25])
    enc = MM.encode_wav(x, 8000, 16, 1)
    df = spark.createDataFrame(
        [(1, bytearray(enc)), (2, None), (3, bytearray(b"not a wav"))],
        "doc_id long, blob binary",
    )
    rows = {r["doc_id"]: r for r in MM.decode_audio_samples(df).collect()}
    pcm = [0, 16384, -16384, 8192]
    assert rows[1]["code_sum"] == sum(pcm)
    assert rows[1]["code_sq_sum"] == sum(c * c for c in pcm)
    assert rows[1]["peak_code"] == 16384
    assert rows[1]["zero_crossings"] == 2  # +,-,+ over nonzero signs
    for d in (2, 3):
        assert rows[d]["n_frames"] is None and rows[d]["code_sum"] is None
