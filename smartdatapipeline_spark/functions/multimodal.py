"""Multimodal column plumbing: opaque ``binary`` payloads with typed
metadata, Arrow-batched feature extraction, and REAL from-scratch
decoders (BASELINE.json north-star extension).

No codec library is needed anywhere: PNG decodes via stdlib zlib
inflate + full scanline-filter reversal, uncompressed 24-bpp BMP via
struct walking, baseline JPEG via a from-scratch T.81 implementation
(Huffman entropy decode, dequantize, orthonormal IDCT, chroma upsample,
BT.601 color transform), GIF via LZW decode + deinterlace, and 8/16-bit
PCM WAV via the RIFF chunk walk — each with an encoder twin for golden
round-trips. Headers for PNG/GIF/BMP/JPEG and RIFF/WAV parse
stdlib-only as well. Out-of-contract payloads (progressive JPEG,
palette PNG, 16-bit depths) fail soft to NULL rows — mixed corpora keep
flowing.

Every public blob function (``decode_image_features``,
``decode_audio_features``, ``decode_image_pixels``, ``extract_features``,
``decode_audio_samples``) is one per-blob row function run by
``_map_blobs``, the module's single ``mapInPandas`` call. At 100 TB the
pattern is: binary column stays in parquet (never collected), metadata
travels as a sibling struct for predicate pushdown (filter on
width/height/duration without touching bytes), and python work happens
once per Arrow batch — the only copy is columnar.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Hostile-blob allocation budget (round-7 ADVICE): header-declared
# dimensions are attacker-controlled in a mixed corpus — a few-hundred-
# byte file can declare 65535×65535 and would otherwise force a multi-GB
# allocation (JPEG coefficient planes) or an unbounded zlib inflate (PNG
# decompression bomb) INSIDE a Spark task. Decoders reject any image
# whose pixel count exceeds this budget (16.7M px = 4096×4096 — far
# above real training-corpus imagery) BEFORE allocating, returning the
# same fail-soft None as any other out-of-contract payload.
_MAX_PIXELS = 1 << 24


def _map_blobs(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    parse: Callable[[bytes | None], tuple | None],
    fields: list[tuple[str, T.DataType]],
) -> DataFrame:
    """The one Arrow-batched blob kernel every decoder runs through:
    ``parse`` maps each blob to a tuple of ``fields`` (name, Spark type)
    once per row inside one ``mapInPandas``; bytes never leave the
    executor. The id column keeps its own name and type (string ids
    included). A NULL binary cell reaches ``parse`` as None rather than
    ``bytes(None)`` failing the task, and a None result becomes an
    all-NULL row, so out-of-contract payloads fail soft and mixed
    corpora keep flowing. Int/Long fields go out as pandas nullable
    arrays so their NULLs survive the Arrow conversion."""
    import pandas as pd

    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [T.StructField(name, typ) for name, typ in fields]
    )
    nullable = {"int": "Int32", "bigint": "Int64"}
    dtypes = [nullable.get(typ.simpleString()) for _, typ in fields]
    empty = (None,) * len(fields)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                parse(None if b is None else bytes(b)) for b in pdf[blob_col]
            ]
            rows = [empty if r is None else r for r in rows]
            out = {id_col: pdf[id_col]}
            for i, ((name, _), dtype) in enumerate(zip(fields, dtypes)):
                col = [r[i] for r in rows]
                out[name] = pd.array(col, dtype=dtype) if dtype else col
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(_run, schema=schema)


def attach_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap content as an opaque binary column + typed metadata struct —
    the storage shape for multimodal payloads. (Testdata has no real
    media, so the bytes are the utf-8 text; the schema/plumbing is what
    is being exercised.)"""
    blob = F.col(text_col).cast("binary")
    meta = F.struct(
        F.octet_length(F.col(text_col)).alias("n_bytes"),
        F.lit("text/plain").alias("content_type"),
    )
    return df.withColumn("blob", blob).withColumn("media_meta", meta)


def parse_image_header(data: bytes) -> tuple[str | None, int | None, int | None]:
    """REAL image decode (header level), pure stdlib — no PIL needed.

    Returns (format, width, height) for PNG / GIF / BMP / JPEG payloads,
    (None, None, None) for anything unrecognized or truncated. This is
    the per-blob row function of ``decode_image_features``; full pixel
    decode is equally codec-free (``decode_image_pixels`` dispatches to
    the from-scratch PNG/BMP/JPEG/GIF decoders).
    """
    import struct

    if data is None:
        return None, None, None
    if len(data) >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", data[16:24])
        return "png", w, h
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return "gif", w, h
    if len(data) >= 26 and data[:2] == b"BM":
        w, h = struct.unpack("<ii", data[18:26])
        return "bmp", abs(w), abs(h)
    if len(data) >= 4 and data[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOF0/1/2 frame header
        i = 2
        while i + 9 <= len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker in (0xC0, 0xC1, 0xC2):
                h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                return "jpeg", w, h
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
            i += 2 + seglen
        return "jpeg", None, None
    return None, None, None


def parse_wav_header(
    data: bytes,
) -> tuple[int | None, int | None, int | None, float | None]:
    """REAL audio decode (header level), pure stdlib — no soundfile.

    Returns (channels, sample_rate, bits_per_sample, duration_sec) for
    RIFF/WAVE payloads, all-None otherwise. Walks RIFF chunks, so fmt/
    data need not be at fixed offsets."""
    import struct

    if data is None or len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None, None, None, None
    i = 12
    channels = rate = bits = block = None
    data_size = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (clen,) = struct.unpack("<I", data[i + 4 : i + 8])
        if cid == b"fmt " and i + 24 <= len(data):
            _, channels, rate, _, block, bits = struct.unpack(
                "<HHIIHH", data[i + 8 : i + 24]
            )
        elif cid == b"data":
            data_size = clen
        i += 8 + clen + (clen & 1)
    if rate and block and data_size is not None:
        dur = (data_size // block) / float(rate)
    else:
        dur = None
    return channels, rate, bits, dur


def decode_image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image header decode (``parse_image_header``) over the binary
    ``blob`` column: (id, format, width, height)."""
    return _map_blobs(
        df, id_col, "blob", parse_image_header,
        [
            ("format", T.StringType()),
            ("width", T.IntegerType()),
            ("height", T.IntegerType()),
        ],
    )


def decode_audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """WAV header decode (``parse_wav_header``) over the binary ``blob``
    column: (id, channels, sample_rate, bits, duration_sec)."""
    return _map_blobs(
        df, id_col, "blob", parse_wav_header,
        [
            ("channels", T.IntegerType()),
            ("sample_rate", T.IntegerType()),
            ("bits", T.IntegerType()),
            ("duration_sec", T.DoubleType()),
        ],
    )


def parse_bmp_pixels(data: bytes) -> tuple[int, int, bytes] | None:
    """REAL pixel decode, pure stdlib: uncompressed 24-bpp BI_RGB BMP →
    (width, height, RGB bytes row-major TOP-DOWN). Handles both
    bottom-up (positive height — the common case) and top-down storage,
    and the 4-byte row padding. Returns None for anything that is not
    an uncompressed 24-bpp BMP (compressed formats have their own
    from-scratch decoders — ``parse_png_pixels``/``parse_jpeg_pixels``,
    unified behind ``decode_image_pixels``)."""
    import struct

    if data is None or len(data) < 54 or data[:2] != b"BM":
        return None
    (offset,) = struct.unpack("<I", data[10:14])
    w, h = struct.unpack("<ii", data[18:26])
    _planes, bpp = struct.unpack("<HH", data[26:30])
    (comp,) = struct.unpack("<I", data[30:34])
    if comp != 0 or bpp != 24 or w <= 0 or h == 0:
        return None
    height, bottom_up = abs(h), h > 0
    row_size = ((w * 3 + 3) // 4) * 4
    if offset + row_size * height > len(data):
        return None
    out = bytearray(w * height * 3)
    for r in range(height):
        src = height - 1 - r if bottom_up else r
        start = offset + src * row_size
        dst = r * w * 3
        row = data[start : start + w * 3]
        # BGR → RGB channel swap
        out[dst + 0 : dst + w * 3 : 3] = row[2::3]
        out[dst + 1 : dst + w * 3 : 3] = row[1::3]
        out[dst + 2 : dst + w * 3 : 3] = row[0::3]
    return w, height, bytes(out)


def parse_png_pixels(data: bytes) -> tuple[int, int, int, bytes] | None:
    """REAL pixel decode, pure stdlib (round-6: PNG no longer needs a
    codec library): 8-bit-depth non-interlaced PNG → (width, height,
    n_channels, raw bytes row-major top-down). The deflate stream
    inflates with stdlib ``zlib`` and all five scanline filters
    (None/Sub/Up/Average/Paeth, PNG spec §9 "Filtering") reverse
    per-row. Color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA)
    are supported; palette (3), 16-bit depth, and Adam7 interlace
    return None (as does any malformed chunk / CRC / length) — fail-
    soft for mixed corpora, same contract as ``parse_bmp_pixels``."""
    import struct
    import zlib

    if data is None or len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length or pos + 12 + length > len(data):
            return None
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(typ + chunk) & 0xFFFFFFFF != crc:
            return None
        pos += 12 + length
        if typ == b"IHDR":
            ihdr = chunk
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13:
        return None
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    ch = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0 or ch is None:
        return None
    if w == 0 or h == 0 or not idat:
        return None
    if w * h > _MAX_PIXELS:
        return None  # hostile header dims — see _MAX_PIXELS
    stride = w * ch
    want = (stride + 1) * h
    # bounded inflate (round-7 ADVICE): an unbounded zlib.decompress on
    # a small IDAT decompression bomb can OOM the executor — cap output
    # at exactly the expected filtered-scanline size and require the
    # stream to END there (a bomb hits max_length with eof False)
    d = zlib.decompressobj()
    try:
        raw = d.decompress(bytes(idat), want)
    except zlib.error:
        return None
    if len(raw) != want or not d.eof:
        return None
    out = bytearray(stride * h)
    prev = bytes(stride)  # the row above row 0 is all zeros (spec)
    for r in range(h):
        ft = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ft == 1:  # Sub: + byte ch positions left
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ft == 2:  # Up: + byte above
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average: + floor((left + above)/2)
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth predictor
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ft != 0:
            return None
        out[r * stride : (r + 1) * stride] = line
        prev = line
    return w, h, ch, bytes(out)


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    filters: list[int] | None = None,
) -> bytes:
    """Minimal stdlib PNG ENCODER (8-bit, non-interlaced) — the golden-
    test / test-corpus twin of ``parse_png_pixels``. ``filters`` picks
    the filter type per scanline (default cycles 0..4 so every filter
    path is exercised); the filtered bytes are the spec-exact inverse
    of the decoder's reversal, so round-trip is bit-identical."""
    import struct
    import zlib

    ctype = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixels length != width*height*channels")
    if filters is None:
        filters = [r % 5 for r in range(height)]
    raw = bytearray()
    prev = bytes(stride)
    for r in range(height):
        line = pixels[r * stride : (r + 1) * stride]
        ft = filters[r]
        raw.append(ft)
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if ft == 0:
                v = line[i]
            elif ft == 1:
                v = line[i] - a
            elif ft == 2:
                v = line[i] - b
            elif ft == 3:
                v = line[i] - ((a + b) >> 1)
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[i] - pred
            else:
                raise ValueError(f"bad filter type {ft}")
            raw.append(v & 0xFF)
        prev = line

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# Baseline JPEG codec, from scratch (ITU-T T.81) — round 6 closes the last
# compressed-format gap: no codec library anywhere in the pixel path.
# ---------------------------------------------------------------------------

#: natural (row-major) index of each position in zigzag scan order
#: (T.81 Figure 5)
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

#: the typical Huffman tables of T.81 Annex K.3 — (BITS[1..16], HUFFVAL),
#: keyed (table_class, dest): class 0 = DC, 1 = AC; dest 0 = luma, 1 = chroma
_STD_HUFF = {
    (0, 0): (
        (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
        bytes(range(12)),
    ),
    (0, 1): (
        (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
        bytes(range(12)),
    ),
    (1, 0): (
        (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125),
        bytes.fromhex(
            "010203000411051221314106135161072271143281915108"
            "2342b1c11552d1f02433627282090a161718191a25262728"
            "292a3435363738393a434445464748494a53545556575859"
            "5a636465666768696a737475767778797a83848586878889"
            "8a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6"
            "b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2"
            "e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9fa"
        ),
    ),
    (1, 1): (
        (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119),
        bytes.fromhex(
            "000102031104052131061241510761711322328108144291"
            "a1b1c109233352f0156272d10a162434e125f11718191a26"
            "2728292a35363738393a434445464748494a535455565758"
            "595a636465666768696a737475767778797a828384858687"
            "88898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4"
            "b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9da"
            "e2e3e4e5e6e7e8e9eaf2f3f4f5f6f7f8f9fa"
        ),
    ),
}

_DCT_M = None  # cached 8×8 orthonormal DCT-II matrix


def _dct_mat():
    """Orthonormal 8-point DCT-II matrix — identical scaling to T.81's
    FDCT definition (the 1/4·c(u)c(v) 2-D form), which is what bounds
    quantized coefficients to the spec's ±1023 AC / ±1016 DC range."""
    global _DCT_M
    if _DCT_M is None:
        import numpy as np

        x = np.arange(8)
        m = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
        m[0] /= np.sqrt(2.0)
        _DCT_M = m
    return _DCT_M


def _huff_codes(bits, vals):
    """Canonical Huffman code assignment (T.81 C.2): symbol → (nbits, code)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_dec(bits, vals):
    """Decode table: (nbits, code) → symbol, built from a DHT payload."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _Trunc(Exception):
    """Entropy stream ended / invalid code — decoder fail-softs to None."""


class _BitReader:
    __slots__ = ("b", "i", "acc", "cnt")

    def __init__(self, b: bytes):
        self.b, self.i, self.acc, self.cnt = b, 0, 0, 0

    def bit(self) -> int:
        if self.cnt == 0:
            if self.i >= len(self.b):
                raise _Trunc
            self.acc = self.b[self.i]
            self.i += 1
            self.cnt = 8
        self.cnt -= 1
        return (self.acc >> self.cnt) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_read(br: _BitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise _Trunc


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude code to a signed value."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def parse_jpeg_pixels(data: bytes) -> tuple[int, int, int, bytes] | None:
    """REAL baseline-JPEG pixel decode, from scratch (stdlib + numpy —
    round 6 closes the last compressed-format gap; no codec library):
    marker walk → DQT/DHT/SOF0/SOF1/DRI/SOS parse → Huffman entropy
    decode (T.81 F.2.2) with byte unstuffing + restart-marker segments →
    dequantize → batched orthonormal IDCT → integer-ratio chroma
    upsample → BT.601 YCbCr→RGB. Returns (width, height, n_channels,
    row-major bytes); grayscale decodes 1 channel, YCbCr 3.

    Fail-soft None (same contract as ``parse_png_pixels``) for:
    progressive/lossless/arithmetic frames (SOF2+), 12-bit precision,
    4-component (CMYK) scans, non-integer sampling ratios, and any
    truncated/malformed segment or entropy stream.
    """
    import numpy as np

    if data is None or len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    qt: dict[int, "np.ndarray"] = {}
    hdec: dict[tuple[int, int], dict] = {}
    frame = None
    dri = 0
    smap = None
    scan_start = 0
    i = 2
    while i + 2 <= len(data):
        if data[i] != 0xFF:
            return None
        m = data[i + 1]
        if m == 0xD9:
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if i + 4 > len(data):
            return None
        seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
        seg = data[i + 4 : i + 2 + seg_len]
        if seg_len < 2 or len(seg) != seg_len - 2:
            return None
        if m == 0xDB:  # DQT — may hold several tables
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq == 0:
                    q = np.frombuffer(seg[p : p + 64], dtype=np.uint8)
                    p += 64
                elif pq == 1:
                    q = np.frombuffer(seg[p : p + 128], dtype=">u2")
                    p += 128
                else:
                    return None
                if q.size != 64:
                    return None
                nat = np.zeros(64, np.int32)
                nat[list(_ZIGZAG)] = q.astype(np.int32)
                qt[tq] = nat.reshape(8, 8)
        elif m == 0xC4:  # DHT — may hold several tables
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = tuple(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = seg[p + 17 : p + 17 + n]
                if len(vals) != n or tc > 1:
                    return None
                hdec[(tc, th)] = _huff_dec(bits, vals)
                p += 17 + n
        elif m in (0xC0, 0xC1):  # SOF0/SOF1: (extended) sequential DCT
            if len(seg) < 6:
                return None
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if prec != 8 or nc not in (1, 3) or not w or not h:
                return None
            if len(seg) != 6 + 3 * nc:
                return None
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, seg[8 + 3 * c]))
            frame = (w, h, comps)
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive / lossless / arithmetic / hierarchical
        elif m == 0xDD:  # DRI
            if len(seg) != 2:
                return None
            dri = int.from_bytes(seg, "big")
        elif m == 0xDA:  # SOS — single interleaved scan only (baseline)
            if frame is None or not seg:
                return None
            ns = seg[0]
            if ns != len(frame[2]) or len(seg) < 1 + 2 * ns + 3:
                return None
            smap = []
            for c in range(ns):
                smap.append(
                    (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                )
            scan_start = i + 2 + seg_len
            break
        i += 2 + seg_len
    if frame is None or smap is None:
        return None

    # entropy-coded bytes: unstuff FF00, split at restart markers
    segs: list[bytes] = []
    cur = bytearray()
    p = scan_start
    while p < len(data):
        b = data[p]
        if b == 0xFF:
            if p + 1 >= len(data):
                break
            nb = data[p + 1]
            if nb == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nb <= 0xD7:
                segs.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            break  # EOI or any other marker ends the scan
        cur.append(b)
        p += 1
    segs.append(bytes(cur))

    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if not hmax or not vmax:
        return None
    if w * h > _MAX_PIXELS:
        # hostile SOF dims (see _MAX_PIXELS): the coefficient planes
        # below are ~(w/8)(h/8)·64·4 B per component (each component's
        # block grid is ≤ ceil(w/8)×ceil(h/8) since hh ≤ hmax, vv ≤
        # vmax), so bounding w·h bounds every allocation in this decode
        return None
    for _, hh, vv, _tq in comps:
        if not hh or not vv or hmax % hh or vmax % vv:
            return None  # non-integer upsample ratio: out of contract
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    coefs = {
        c[0]: np.zeros((mcuy * c[2], mcux * c[1], 8, 8), np.int32) for c in comps
    }
    order = []
    for cs, td, ta in smap:
        c = by_id.get(cs)
        if c is None or (0, td) not in hdec or (1, ta) not in hdec:
            return None
        if c[3] not in qt:
            return None
        order.append((cs, c[1], c[2], hdec[(0, td)], hdec[(1, ta)]))

    zz = list(_ZIGZAG)
    try:
        seg_idx = 0
        br = _BitReader(segs[0])
        dcpred = {c[0]: 0 for c in comps}
        mcu = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and mcu and mcu % dri == 0:
                    seg_idx += 1
                    if seg_idx >= len(segs):
                        return None
                    br = _BitReader(segs[seg_idx])
                    dcpred = {c[0]: 0 for c in comps}
                for cs, hh, vv, dct, act in order:
                    tgt = coefs[cs]
                    for by in range(vv):
                        for bx in range(hh):
                            blk = tgt[my * vv + by, mx * hh + bx].reshape(64)
                            t = _huff_read(br, dct)
                            if t > 15:
                                # DC category beyond T.81's SSSS range —
                                # a crafted DHT symbol would otherwise
                                # overflow the int32 block (round-7
                                # ADVICE); corrupt stream -> fail soft
                                raise _Trunc
                            dcpred[cs] += _extend(br.bits(t), t) if t else 0
                            blk[0] = dcpred[cs]
                            k = 1
                            while k < 64:
                                rs = _huff_read(br, act)
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r != 15:
                                        break  # EOB
                                    k += 16
                                    continue
                                k += r
                                if k > 63:
                                    return None
                                blk[zz[k]] = _extend(br.bits(s), s)
                                k += 1
                mcu += 1
    except (_Trunc, OverflowError):
        # OverflowError: out-of-spec (12..15) DC categories can still
        # accumulate dcpred past int32 before any single read is invalid
        return None

    m = _dct_mat()
    planes = []
    for cid, hh, vv, tq in comps:
        c = coefs[cid].astype(np.float64) * qt[tq][None, None]
        px = np.matmul(np.matmul(m.T, c), m) + 128.0
        px = np.clip(np.round(px), 0, 255).astype(np.uint8)
        nby, nbx = px.shape[0], px.shape[1]
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        plane = np.repeat(np.repeat(plane, vmax // vv, 0), hmax // hh, 1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return w, h, 1, planes[0].tobytes()
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    rgb = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return w, h, 3, rgb.tobytes()


class _BitWriter:
    __slots__ = ("buf", "acc", "cnt")

    def __init__(self):
        self.buf, self.acc, self.cnt = bytearray(), 0, 0

    def write(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.cnt += 1
            if self.cnt == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0)  # byte stuffing (T.81 F.1.2.3)
                self.acc, self.cnt = 0, 0

    def flush(self) -> None:
        while self.cnt:
            self.write(1, 1)  # pad with 1-bits (spec)


def _enc_block(blk, dc_pred: int, dc_tab, ac_tab, bw: _BitWriter) -> int:
    """Huffman-encode one quantized block (natural order); returns new
    DC predictor."""
    diff = int(blk[0]) - dc_pred
    t = abs(diff).bit_length()
    ln, code = dc_tab[t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = int(blk[_ZIGZAG[k]])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_tab[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        ln, code = ac_tab[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        ln, code = ac_tab[0x00]  # EOB
        bw.write(code, ln)
    return int(blk[0])


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    quant: tuple | None = None,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline-JPEG ENCODER (T.81 SOF0, typical Annex K Huffman
    tables) — the golden-test twin of ``parse_jpeg_pixels``, same role
    ``encode_png`` plays for the PNG decoder. channels 1 (grayscale) or
    3 (RGB → BT.601 YCbCr); ``quant`` is (luma64, chroma64) in natural
    order (default all-ones: near-lossless, and EXACTLY lossless for
    block-uniform grayscale input — the property the oracle query
    pins); ``subsample`` '444' or '420'; ``restart_interval`` emits
    DRI + RSTn so the decoder's restart path is exercised."""
    import numpy as np

    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    if len(pixels) != width * height * channels:
        raise ValueError("pixels length != width*height*channels")
    ql = np.ones((8, 8), np.int32) if quant is None else np.asarray(
        quant[0], np.int32
    ).reshape(8, 8)
    qc = np.ones((8, 8), np.int32) if quant is None else np.asarray(
        quant[1], np.int32
    ).reshape(8, 8)

    img = np.frombuffer(pixels, np.uint8).reshape(height, width, channels)
    if channels == 1:
        planes = [img[:, :, 0].astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        y = np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
        cb = np.clip(
            np.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128), 0, 255
        )
        cr = np.clip(
            np.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128), 0, 255
        )
        if subsample == "420":
            ph = height + (height & 1)
            pw = width + (width & 1)

            def down(p):
                q = np.pad(p, ((0, ph - height), (0, pw - width)), "edge")
                q = q.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
                return np.round(q)

            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qsel = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    m = _dct_mat()
    qts = [ql, qc]
    blocks = []  # per component: (nby, nbx, 8, 8) quantized int32
    for p, (hh, vv), qi in zip(planes, samp, qsel):
        tb_h, tb_w = mcuy * vv * 8, mcux * hh * 8
        pad = np.pad(
            p, ((0, tb_h - p.shape[0]), (0, tb_w - p.shape[1])), "edge"
        )
        blk = pad.reshape(tb_h // 8, 8, tb_w // 8, 8).transpose(0, 2, 1, 3)
        f = np.matmul(np.matmul(m, blk - 128.0), m.T)
        blocks.append(np.round(f / qts[qi][None, None]).astype(np.int32))

    enc = {
        k: _huff_codes(*_STD_HUFF[k])
        for k in ((0, 0), (1, 0), (0, 1), (1, 1))
    }
    bw = _BitWriter()
    dcp = [0] * len(planes)
    out_chunks: list[bytes] = []
    mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                out_chunks.append(bytes(bw.buf))
                out_chunks.append(bytes((0xFF, 0xD0 + rst)))
                rst = (rst + 1) & 7
                bw = _BitWriter()
                dcp = [0] * len(planes)
            for ci, (hh, vv) in enumerate(samp):
                dsel = 0 if ci == 0 else 1
                for by in range(vv):
                    for bx in range(hh):
                        dcp[ci] = _enc_block(
                            blocks[ci][my * vv + by, mx * hh + bx].reshape(64),
                            dcp[ci],
                            enc[(0, dsel)],
                            enc[(1, dsel)],
                            bw,
                        )
            mcu += 1
    bw.flush()
    out_chunks.append(bytes(bw.buf))
    scan = b"".join(out_chunks)

    import struct

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    zig = list(_ZIGZAG)
    head = [b"\xff\xd8"]  # SOI
    head.append(
        seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    )
    head.append(seg(0xDB, bytes([0]) + bytes(ql.reshape(64)[zig].tolist())))
    if channels == 3:
        head.append(
            seg(0xDB, bytes([1]) + bytes(qc.reshape(64)[zig].tolist()))
        )
    if restart_interval:
        head.append(seg(0xDD, struct.pack(">H", restart_interval)))
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for ci, (hh, vv) in enumerate(samp):
        sof += bytes((ci + 1, (hh << 4) | vv, 0 if ci == 0 else 1))
    head.append(seg(0xC0, sof))
    tables = ((0, 0), (1, 0)) if channels == 1 else (
        (0, 0), (1, 0), (0, 1), (1, 1)
    )
    for tc, th in tables:
        bits, vals = _STD_HUFF[(tc, th)]
        head.append(seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + vals))
    sos = bytes([channels])
    for ci in range(channels):
        dsel = 0 if ci == 0 else 1
        sos += bytes((ci + 1, (dsel << 4) | dsel))
    sos += b"\x00\x3f\x00"
    head.append(seg(0xDA, sos))
    return b"".join(head) + scan + b"\xff\xd9"


def parse_any_pixels(
    data: bytes,
) -> tuple[str, int, int, int, bytes] | None:
    """Unified pixel decode: dispatch on magic bytes to the from-scratch
    PNG / BMP / JPEG / GIF decoders. Returns (format, width, height,
    n_channels, bytes) or None. Every format decodes codec-free now —
    the former PIL gate is gone."""
    if data is None:
        return None
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        p = parse_png_pixels(data)
        return ("png", p[0], p[1], p[2], p[3]) if p else None
    if data[:2] == b"BM":
        p = parse_bmp_pixels(data)
        return ("bmp", p[0], p[1], 3, p[2]) if p else None
    if data[:2] == b"\xff\xd8":
        p = parse_jpeg_pixels(data)
        return ("jpeg", p[0], p[1], p[2], p[3]) if p else None
    if data[:6] in (b"GIF87a", b"GIF89a"):
        p = parse_gif_pixels(data)
        return ("gif", p[0], p[1], p[2], p[3]) if p else None
    return None


def decode_image_pixels(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Unified pixel decode (``parse_any_pixels``: PNG, BMP, baseline
    JPEG and GIF, all from scratch, no codec library): (id, format,
    width, height, n_channels, pixels binary — raw channel bytes
    row-major top-down). Rows in none of the formats, or out of a
    decoder's documented contract (e.g. progressive JPEG), yield NULLs."""
    return _map_blobs(
        df, id_col, blob_col, parse_any_pixels,
        [
            ("format", T.StringType()),
            ("width", T.IntegerType()),
            ("height", T.IntegerType()),
            ("n_channels", T.IntegerType()),
            ("pixels", T.BinaryType()),
        ],
    )


def _md5_features(data: bytes | None) -> tuple | None:
    """(n_bytes, header_hash, feat_0..feat_3) of one blob, md5-derived."""
    import hashlib

    if data is None:
        return None
    d = hashlib.md5(data).hexdigest()
    feats = (int(d[8 * i : 8 * i + 8], 16) / 4294967296.0 for i in range(4))
    return (len(data), int(d[:15], 16), *feats)


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic feature extraction over the binary ``blob`` column
    — the per-blob slot a real embedding/feature model plugs into (swap
    ``_md5_features`` for the model forward pass).

    Features are md5-derived so the DuckDB oracle can verify the full
    plumbing end-to-end: feat_i = int(md5_hex[8i:8i+8], 16) / 2^32.
    """
    return _map_blobs(
        df, id_col, "blob", _md5_features,
        [("n_bytes", T.IntegerType()), ("header_hash", T.LongType())]
        + [(f"feat_{i}", T.DoubleType()) for i in range(4)],
    )


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    frame_bytes: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic frame sampling over a binary stream — the video
    analog: split the payload into ``n_frames`` evenly-spaced windows of
    ``frame_bytes`` and emit one row per frame with its hash. Pure
    column expressions (substring on binary), no python."""
    total = F.octet_length("blob")
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    out = df.select(F.col(id_col), "blob", total.alias("_n"), idx)
    offset = (F.col("frame_idx") * F.greatest((F.col("_n") - frame_bytes), F.lit(0)))
    offset = F.floor(offset / F.lit(max(n_frames - 1, 1))).cast("int")
    frame = F.substring(F.col("blob"), offset + 1, frame_bytes)
    return out.select(
        id_col,
        "frame_idx",
        offset.alias("byte_offset"),
        F.conv(F.substring(F.md5(frame), 1, 15), 16, 10).cast("long").alias("frame_hash"),
    )


# ---------------------------------------------------------------------------
# GIF codec, from scratch (GIF87a/89a, LZW) — round 7 closes the last
# image-format gap: header-only GIF support becomes full pixel decode.
# ---------------------------------------------------------------------------


def _gif_lzw_decode(stream: bytes, min_code: int, max_pixels: int) -> bytes | None:
    """GIF-variant LZW (LSB-first bit packing, CLEAR/EOI codes, width
    grows to 12 bits then defers until CLEAR). Output capped at
    ``max_pixels`` — a crafted stream cannot expand past the declared
    frame size (same hostile-blob posture as the PNG bounded inflate)."""
    clear = 1 << min_code
    eoi = clear + 1
    cs = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < cs:
            if pos >= len(stream):
                # some encoders omit EOI; accept iff we already have
                # every pixel, else the stream is truncated
                return bytes(out) if len(out) >= max_pixels else None
            acc |= stream[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << cs) - 1)
        acc >>= cs
        nbits -= cs
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            cs = min_code + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out) if len(out) >= max_pixels else None
        if prev is None:
            if code >= len(table) or code >= clear:
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            return None
        out += entry
        if len(out) > max_pixels:
            return None  # over-long stream: corrupt or hostile
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << cs) and cs < 12:
                cs += 1
        prev = entry
        if len(out) == max_pixels:
            # drain to EOI if present; tolerate its absence
            return bytes(out)


def _gif_deinterlace(idx: bytes, w: int, h: int) -> bytes:
    out = bytearray(len(idx))
    r = 0
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        for y in range(start, h, step):
            out[y * w : (y + 1) * w] = idx[r * w : (r + 1) * w]
            r += 1
    return bytes(out)


def parse_gif_pixels(data: bytes) -> tuple[int, int, int, bytes] | None:
    """REAL GIF pixel decode, pure stdlib: GIF87a/89a → (width, height,
    3, RGB bytes row-major top-down) for the FIRST image frame (animated
    GIFs decode frame 0), including local color tables and Adam-style
    4-pass interlacing. Transparency indices render their palette color
    (no alpha channel in the 3-channel contract). Fail-soft None for
    missing color tables, truncated blocks, out-of-range indices,
    hostile dimensions (``_MAX_PIXELS``), or over-long LZW streams —
    same contract as the PNG/JPEG/BMP decoders."""
    import struct

    if data is None or len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = data[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            return None
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: walk (and ignore) its sub-blocks
            pos += 2
            while True:
                if pos >= len(data):
                    return None
                sz = data[pos]
                pos += 1
                if sz == 0:
                    break
                pos += sz
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                return None
            w, h = struct.unpack("<HH", data[pos + 5 : pos + 9])
            ip = data[pos + 9]
            pos += 10
            if not w or not h or w * h > _MAX_PIXELS:
                return None
            ct = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                ct = data[pos : pos + 3 * n]
                if len(ct) < 3 * n:
                    return None
                pos += 3 * n
            if ct is None or pos >= len(data):
                return None
            min_code = data[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                return None
            stream = bytearray()
            while True:
                if pos >= len(data):
                    return None
                sz = data[pos]
                pos += 1
                if sz == 0:
                    break
                chunk = data[pos : pos + sz]
                if len(chunk) < sz:
                    return None
                stream += chunk
                pos += sz
            idx = _gif_lzw_decode(bytes(stream), min_code, w * h)
            if idx is None or len(idx) < w * h:
                return None
            idx = idx[: w * h]
            if ip & 0x40:
                idx = _gif_deinterlace(idx, w, h)
            ncol = len(ct) // 3
            out = bytearray(w * h * 3)
            for i, c in enumerate(idx):
                if c >= ncol:
                    return None
                out[3 * i : 3 * i + 3] = ct[3 * c : 3 * c + 3]
            return w, h, 3, bytes(out)
        elif b == 0x3B:
            return None  # trailer before any image frame
        else:
            return None
    return None


def encode_gif(
    w: int, h: int, rgb: bytes, interlace: bool = False
) -> bytes:
    """Encoder twin for golden round-trips: RGB (≤256 distinct colors)
    → GIF89a with a global color table and real LZW compression
    (variable code width through 12 bits). Raises ValueError past 256
    colors — palette quantization is out of scope for a golden
    generator."""
    import struct

    palette: dict[bytes, int] = {}
    idx = bytearray()
    for i in range(w * h):
        c = bytes(rgb[3 * i : 3 * i + 3])
        if c not in palette:
            palette[c] = len(palette)
        idx.append(palette[c])
    n = len(palette)
    if n > 256:
        raise ValueError("encode_gif: more than 256 distinct colors")
    bits = max(2, (max(n - 1, 1)).bit_length())
    size = 1 << bits
    gct = b"".join(sorted(palette, key=palette.get)) + b"\0" * (
        3 * (size - n)
    )
    if interlace:
        order = [
            y
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for y in range(start, h, step)
        ]
        idx = bytearray(
            b for y in order for b in idx[y * w : (y + 1) * w]
        )

    # LZW encode (mirror of the decoder's width schedule: the encoder
    # bumps lazily BEFORE an emit once next_code overflows the width —
    # one emit later than the decoder's insertion-time bump, because
    # the decoder's dictionary runs one insertion behind)
    min_code = bits
    clear_c = 1 << min_code
    eoi = clear_c + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear_c)}
    next_code = eoi + 1
    cs = min_code + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits, cs
        while next_code > (1 << cs) and cs < 12:
            cs += 1
        acc |= code << nbits
        nbits += cs
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear_c)
    wbuf = b""
    for ch in idx:
        nxt = wbuf + bytes([ch])
        if nxt in table:
            wbuf = nxt
            continue
        emit(table[wbuf])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
        wbuf = bytes([ch])
    if wbuf:
        emit(table[wbuf])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)

    head = b"GIF89a" + struct.pack("<HH", w, h) + bytes(
        [0x80 | (bits - 1), 0, 0]
    ) + gct
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes(
        [0x40 if interlace else 0]
    )
    body = bytes([min_code])
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        body += bytes([len(chunk)]) + bytes(chunk)
    body += b"\0"
    return head + desc + body + b"\x3b"


# ---------------------------------------------------------------------------
# WAV PCM sample decode — round 7: the audio story past the header
# (8/16-bit integer PCM; the 100 TB posture is identical to the pixel
# decoders: bytes stay in the executor, numpy does the batch math).
# ---------------------------------------------------------------------------


def parse_wav_samples(data: bytes):
    """RIFF/WAVE → (channels, sample_rate, n_frames, samples) with
    ``samples`` a numpy float64 array of the FIRST channel scaled to
    [−1, 1] (8-bit PCM is unsigned-biased per spec; 16-bit is signed
    little-endian). Fail-soft None for non-PCM formats (compressed,
    float, 24/32-bit), truncated data chunks, or frame counts past the
    ``_MAX_PIXELS`` sample budget — same hostile-blob contract as the
    image decoders."""
    import struct

    import numpy as np

    if data is None or len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    i = 12
    fmt = None
    raw = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (clen,) = struct.unpack("<I", data[i + 4 : i + 8])
        if cid == b"fmt " and i + 24 <= len(data):
            fmt = struct.unpack("<HHIIHH", data[i + 8 : i + 24])
        elif cid == b"data":
            raw = data[i + 8 : i + 8 + clen]
            if len(raw) < clen:
                return None
        i += 8 + clen + (clen & 1)
    if fmt is None or raw is None:
        return None
    audio_fmt, channels, rate, _, block, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16) or not channels or not rate:
        return None
    if block != channels * (bits // 8):
        return None
    n_frames = len(raw) // block
    if n_frames == 0 or n_frames > _MAX_PIXELS:
        return None
    raw = raw[: n_frames * block]
    if bits == 8:
        arr = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        arr = (arr - 128.0) / 128.0
    else:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    return channels, rate, n_frames, arr.reshape(n_frames, channels)[:, 0]


def encode_wav(
    samples, sample_rate: int = 8000, bits: int = 16, channels: int = 1
) -> bytes:
    """Encoder twin: mono-duplicated integer PCM WAV from float64
    samples in [−1, 1] — golden-generator only (round-trip pins the
    chunk walk, block math, and scaling)."""
    import struct

    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if bits == 8:
        pcm = np.clip(np.round(x * 128.0 + 128.0), 0, 255).astype(np.uint8)
        raw_mono = pcm.tobytes()
    else:
        pcm = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2")
        raw_mono = pcm.tobytes()
    frame = bits // 8
    if channels > 1:
        raw = b"".join(
            raw_mono[i : i + frame] * channels
            for i in range(0, len(raw_mono), frame)
        )
    else:
        raw = raw_mono
    block = channels * frame
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, bits
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _pcm_stats(data: bytes | None) -> tuple | None:
    """Per-clip PCM features of one WAV blob in EXACT integer arithmetic
    over the raw codes (sum, square-sum, peak |code|, zero crossings of
    the sign), so the summary is bit-reproducible and oracle-checkable —
    floats would make RMS order-dependent."""
    import numpy as np

    p = parse_wav_samples(data)
    if p is None:
        return None
    ch, rate, n, x = p
    # back to integer codes (16-bit scale; 8-bit files land on
    # multiples of 256) — exact arithmetic from here on
    codes = np.round(x * 32768.0).astype(np.int64)
    s = np.sign(codes)
    sv = s[s != 0]
    return (
        ch,
        rate,
        n,
        int(codes.sum()),
        int((codes * codes).sum()),
        int(np.abs(codes).max()),
        int(np.count_nonzero(sv[1:] != sv[:-1])),
    )


def decode_audio_samples(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """PCM decode + per-clip features (``_pcm_stats``): (id, channels,
    sample_rate, n_frames, code_sum, code_sq_sum, peak_code,
    zero_crossings) — NULL row for out-of-contract payloads."""
    return _map_blobs(
        df, id_col, blob_col, _pcm_stats,
        [("channels", T.IntegerType()), ("sample_rate", T.IntegerType())]
        + [
            (name, T.LongType())
            for name in (
                "n_frames", "code_sum", "code_sq_sum", "peak_code",
                "zero_crossings",
            )
        ],
    )
