"""Multimodal (image/audio/video) column plumbing.

Media are opaque `binary` columns + a typed metadata struct; all
transforms run as Arrow-batched `mapInPandas` so bytes never round-trip
through Python row objects one at a time.

Codec support is two-tier. `fake=True` (default in this container) uses
a deterministic stand-in decoder (seeded from the bytes) so the
Spark-side plumbing — schema, batching, partitioning — is exercised
without any imaging library. `fake=False` is REAL, pure stdlib+numpy:
binary PPM (P6) / PGM (P5), 24-bpp uncompressed BMP, PNG at every
spec depth (1/2/4/8/16-bit, all five color types, Adam7 interlace;
stdlib `zlib` inflate + the five scanline filters in numpy), BASELINE
SEQUENTIAL JPEG (Huffman + restart markers + dequant + float IDCT +
chroma upsample + JFIF YCbCr→RGB, with `encode_jpeg` as the fixture/
roundtrip twin), GIF87a/89a (full variable-width LZW incl. 12-bit
table resets, sub-block framing, 4-pass interlace, extension-block
skip, with `encode_gif` as the twin), and PCM WAV headers for audio
chunking — decode, luma
stats, and nearest-neighbor resize all run vectorized inside the Arrow
batch. What still raises NotImplementedError is genuinely out of this
scope (progressive/arithmetic/12-bit JPEG, MP3/video codecs):
production clusters have PIL/ffmpeg, this container doesn't.
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Canonical multimodal record: raw bytes + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("bytes", T.LongType(), True),
                    T.StructField("source_uri", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_DDL = (
    "media_id long, height int, width int, mean_luma double, content_sha string"
)


# ------------------------------------------------------ real decoders
def decode_image(content: bytes) -> np.ndarray:
    """(H, W, 3) uint8 from the formats a pure-stdlib decoder can
    parse: binary PPM (P6), binary PGM (P5, gray replicated to 3
    channels), 24-bpp uncompressed bottom-up or top-down BMP,
    8/16-bit PNG — all five color types, Adam7 interlace included
    (alpha dropped, gray replicated, palette resolved, 16-bit reduced
    to the high byte) — and BASELINE SEQUENTIAL JPEG (SOF0/SOF1:
    Huffman entropy decode incl. restart markers, dequantization,
    float 8×8 IDCT, chroma upsampling for any integer sampling
    factors, JFIF YCbCr→RGB). Raises NotImplementedError for formats
    that need a codec library (progressive/arithmetic/12-bit JPEG;
    sub-byte PNG depths) and ValueError for corrupt input."""
    if content[:2] in (b"P6", b"P5"):
        return _decode_pnm(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[:8] == PNG_SIGNATURE:
        return _decode_png(content)
    if content[:2] == b"\xff\xd8":
        return _decode_jpeg(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(content)
    raise NotImplementedError(
        "unsupported image format (pure-stdlib path decodes P6/P5/24-bpp "
        "BMP/8-16-bit PNG/baseline JPEG/GIF)"
    )


def _decode_pnm(content: bytes) -> np.ndarray:
    """Binary PPM/PGM: ascii header (magic, width, height, maxval, with
    `#` comments) then one whitespace byte and raw samples."""
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    channels = 3 if content[:2] == b"P6" else 1
    need = width * height * channels
    data = np.frombuffer(content, dtype=np.uint8, count=need, offset=pos)
    img = data.reshape(height, width, channels)
    return np.repeat(img, 3, axis=2) if channels == 1 else img


def _decode_bmp(content: bytes) -> np.ndarray:
    """24-bpp uncompressed BMP: BGR rows padded to 4 bytes, bottom-up
    when the header height is positive."""
    data_off = int.from_bytes(content[10:14], "little")
    width = int.from_bytes(content[18:22], "little", signed=True)
    height = int.from_bytes(content[22:26], "little", signed=True)
    bpp = int.from_bytes(content[28:30], "little")
    compression = int.from_bytes(content[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bpp uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        content, dtype=np.uint8, count=stride * height, offset=data_off
    ).reshape(height, stride)
    img = rows[:, : width * 3].reshape(height, width, 3)[:, :, ::-1]  # BGR→RGB
    return img[::-1] if bottom_up else img


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: samples per pixel for each PNG color type (palette is 1 index/px)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(content: bytes):
    """Yield (type, data) for each chunk; lengths are validated so a
    truncated file raises ValueError instead of reading garbage. CRCs
    are not verified — corruption surfaces as a zlib/shape error, and
    a luma-stat pipeline has no use for silent-skip semantics."""
    pos = 8
    while pos + 8 <= len(content):
        size = int.from_bytes(content[pos : pos + 4], "big")
        ctype = content[pos + 4 : pos + 8]
        if pos + 12 + size > len(content):
            raise ValueError("truncated PNG chunk")
        yield ctype, content[pos + 8 : pos + 8 + size]
        if ctype == b"IEND":
            return
        pos += 12 + size
    raise ValueError("PNG missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_defilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Undo the per-scanline PNG filters (spec §9): each row carries a
    filter-type byte, then `stride` filtered bytes. None/Up/Sub are
    fully vectorized (Up is a uint8 add of the prior row; Sub is a
    cumulative sum per byte lane — addition mod 256 commutes with
    cumsum). Average and Paeth depend on the left AND upper neighbor,
    so they are inherently sequential in x — those rows fall back to a
    per-byte loop. Real corpora are encoded almost entirely with
    Up/Sub/None by libpng's heuristic; at cluster scale the hot decode
    path would be a C codec anyway (see module docstring)."""
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"PNG pixel data is {len(raw)} bytes, expected "
            f"{height * (stride + 1)}"
        )
    out = np.zeros((height, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += 1 + stride
        prev = out[y - 1] if y else zero_row
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 1:  # Sub: cumsum per lane, mod 256
            for k in range(bpp):
                out[y, k::bpp] = np.cumsum(
                    line[k::bpp], dtype=np.uint64
                ).astype(np.uint8)
        elif ftype == 2:  # Up
            out[y] = line + prev
        elif ftype == 3:  # Average
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(line[x]) + ((a + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                cur[x] = (int(line[x]) + _paeth(a, int(prev[x]), c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return out


#: Adam7 interlace passes: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _decode_png(content: bytes) -> np.ndarray:
    """8/16-bit PNG → (H, W, 3) uint8 RGB, pure stdlib: chunk walk,
    zlib inflate of the concatenated IDAT stream, the five scanline
    filters in numpy (per Adam7 pass when interlaced — each pass is an
    independently filtered sub-image scattered back by strided
    assignment), then color-type normalization (gray replicated,
    palette resolved via PLTE fancy-indexing, alpha DROPPED —
    stats/resize consume straight RGB; compositing is a policy choice
    left to the caller). 16-bit samples reduce to their high byte (the
    standard 16→8 approximation; sub-1/256 precision has no consumer in
    this pipeline). Sub-byte depths (1/2/4-bit gray and palette, spec
    §7.2: MSB-first packed samples, scanlines byte-padded) unpack via
    np.unpackbits; gray samples scale by the exact left-bit-replication
    factor 255/(2^d−1), i.e. 255, 85, or 17."""
    import zlib

    header = None
    palette = None
    idat = bytearray()
    for ctype, data in _png_chunks(content):
        if ctype == b"IHDR":
            header = data
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
    if header is None or len(header) != 13:
        raise ValueError("PNG missing IHDR")
    width = int.from_bytes(header[0:4], "big")
    height = int.from_bytes(header[4:8], "big")
    depth, color_type, _comp, _filt, interlace = header[8:13]
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad PNG bit depth {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color_type}")
    if depth < 8 and color_type not in (0, 3):
        raise ValueError(
            f"sub-byte depth {depth} is only valid for gray/palette "
            f"(color type {color_type})"
        )
    if width <= 0 or height <= 0:
        raise ValueError("bad PNG dimensions")
    channels = _PNG_CHANNELS[color_type]
    # filter delta distance: whole bytes per pixel, min 1 (spec §9.2)
    bpp = max(1, channels * depth // 8)
    raw = zlib.decompress(bytes(idat))

    def row_stride(w: int) -> int:
        return (w * channels * depth + 7) // 8

    def to8(grid2d: np.ndarray, h: int, w: int) -> np.ndarray:
        """(h, stride) defiltered bytes → (h, w, channels) uint8
        (16-bit big-endian samples keep their high byte; sub-byte
        samples unpack MSB-first and drop the pad bits)."""
        if depth == 16:
            return grid2d.reshape(h, w * channels, 2)[:, :, 0].reshape(
                h, w, channels
            )
        if depth < 8:
            bits = np.unpackbits(grid2d, axis=1)[:, : w * depth]
            weights = 1 << np.arange(depth - 1, -1, -1)
            vals = (
                (bits.reshape(h, w, depth) * weights)
                .sum(axis=2)
                .astype(np.uint8)
            )
            return vals[:, :, None]
        return grid2d.reshape(h, w, channels)

    if interlace == 0:
        grid = to8(
            _png_defilter(raw, height, row_stride(width), bpp),
            height,
            width,
        )
    else:
        grid = np.zeros((height, width, channels), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = row_stride(pw)
            need = ph * (stride + 1)
            sub = _png_defilter(raw[pos : pos + need], ph, stride, bpp)
            pos += need
            grid[y0::dy, x0::dx] = to8(sub, ph, pw)
        if pos != len(raw):
            raise ValueError(
                f"Adam7 pixel data is {len(raw)} bytes, expected {pos}"
            )
    if color_type == 2:  # RGB
        return grid
    if color_type == 6:  # RGBA → drop alpha
        return np.ascontiguousarray(grid[:, :, :3])
    if color_type == 0:  # gray
        if depth < 8:  # exact left-bit-replication sample scaling
            grid = grid * np.uint8(255 // ((1 << depth) - 1))
        return np.repeat(grid, 3, axis=2)
    if color_type == 4:  # gray+alpha
        return np.repeat(grid[:, :, :1], 3, axis=2)
    if palette is None:
        raise ValueError("palette PNG missing PLTE")
    idx = grid[:, :, 0]
    if idx.size and int(idx.max()) >= len(palette):
        # keep the documented corrupt-input contract: ValueError, not a
        # numpy IndexError from unchecked fancy-indexing
        raise ValueError(
            f"palette index {int(idx.max())} out of range "
            f"(PLTE has {len(palette)} entries)"
        )
    return palette[idx]  # indexed


def encode_png(
    img: np.ndarray,
    color_type: int = 2,
    filters: list[int] | None = None,
) -> bytes:
    """(H, W[, C]) uint8 → PNG bytes, pure stdlib — the test/fixture
    twin of `_decode_png` (and a usable sink encoding: PNG is the
    lossless interchange format PPM is not). `filters` picks the
    per-scanline filter type (cycled row-by-row; default all-None);
    forward filtering is vectorized int16 arithmetic mod 256. Color
    types: 0 gray (H,W or (H,W,1)), 2 RGB, 6 RGBA."""
    import struct
    import zlib

    if color_type not in (0, 2, 6):
        raise NotImplementedError(
            f"encode_png writes gray/RGB/RGBA (got color type {color_type})"
        )
    want = {0: 1, 2: 3, 6: 4}[color_type]
    if img.ndim == 2:
        img = img[:, :, None]
    if img.shape[2] != want:
        raise ValueError(
            f"color type {color_type} needs {want} channels, "
            f"got {img.shape[2]}"
        )
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, c = img.shape
    rows = img.reshape(h, w * c).astype(np.int16)
    zero = np.zeros(w * c, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        ftype = filters[y % len(filters)] if filters else 0
        cur = rows[y]
        prev = rows[y - 1] if y else zero
        left = np.concatenate([np.zeros(c, np.int16), cur[:-c]])
        upleft = np.concatenate([np.zeros(c, np.int16), prev[:-c]])
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - left
        elif ftype == 2:
            filt = cur - prev
        elif ftype == 3:
            filt = cur - ((left + prev) >> 1)
        elif ftype == 4:
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left),
                np.abs(p - prev),
                np.abs(p - upleft),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, upleft),
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out.append(ftype)
        out.extend((filt & 0xFF).astype(np.uint8).tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + chunk(b"IEND", b"")
    )


# ----------------------------------------------------- baseline JPEG
# Pure stdlib+numpy baseline sequential JPEG (the public ITU-T T.81
# spec; reference `upload_image.py`-class pipelines ship crawled JPEGs
# as opaque blobs — this closes the majority format of real image
# corpora the same way round 5's PNG decoder closed lossless
# interchange). Decoder: marker walk → DQT/DHT/SOF0/DRI → Huffman
# entropy decode (byte destuffing, restart intervals, DC prediction)
# → dequant → vectorized float 8×8 IDCT over all blocks of a
# component at once → integer-factor chroma upsample → JFIF
# YCbCr→RGB with floor(x+0.5) rounding (chosen over banker's so a SQL
# oracle can reproduce the exact pixels). Encoder: the inverse path
# with canonical fixed-length Huffman tables (all DC codes 4 bits,
# all AC codes 8 bits — valid per spec, carried in DHT, so any
# decoder reads them; nothing is recalled from Annex K by memory).


def _jpeg_zigzag() -> np.ndarray:
    """Raster index for each zigzag position, generated from the walk
    rule (odd antidiagonals run down, even run up) instead of a typed-in
    table a transposition typo could corrupt."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        for i in (rng if d % 2 else reversed(rng)):
            order.append(i * 8 + (d - i))
    return np.array(order, dtype=np.int64)


_ZIGZAG = _jpeg_zigzag()

#: M[u, x] = C(u)/2 · cos((2x+1)uπ/16); IDCT: Mᵀ F M, FDCT: M f Mᵀ
_DCT_M = np.cos(
    (2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16
) / 2
_DCT_M[0] /= np.sqrt(2)


class _BitReader:
    """MSB-first bit reader over destuffed entropy-coded bytes: a
    chunked accumulator refilled a byte at a time (not a per-bit list —
    a 500 KB crawled JPEG is ~4M entropy bits, and materializing them
    individually made decode cost explode; the accumulator keeps the
    per-symbol work to a few shifts)."""

    __slots__ = ("data", "n", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            if self.pos >= self.n:
                raise ValueError("JPEG entropy data truncated")
            self.acc = ((self.acc << 8) | self.data[self.pos]) & 0xFFFFFF
            self.pos += 1
            self.nbits += 8

    def read_bit(self) -> int:
        self._fill(1)
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def bits_left(self) -> int:
        return self.nbits + 8 * (self.n - self.pos)


class _HuffTable:
    """Canonical Huffman decode tables from the DHT wire form: an
    8-bit-peek fast path (one lookup resolves any code of length ≤ 8 —
    every code this repo's encoder emits, and the overwhelming bulk of
    libjpeg-style optimized tables) with a (length, code) dict walk for
    longer codes."""

    __slots__ = ("by_code", "fast")

    def __init__(self, bits: list[int], symbols: list[int]):
        self.by_code: dict[tuple[int, int], int] = {}
        self.fast: list[tuple[int, int] | None] = [None] * 256
        code = 0
        it = iter(symbols)
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                sym = next(it)
                self.by_code[(length, code)] = sym
                if length <= 8:
                    lo = code << (8 - length)
                    for i in range(lo, lo + (1 << (8 - length))):
                        self.fast[i] = (sym, length)
                code += 1
            code <<= 1


def _huff_decode(reader: _BitReader, table: _HuffTable) -> int:
    if reader.bits_left() >= 8:
        reader._fill(8)
        peek = (reader.acc >> (reader.nbits - 8)) & 0xFF
        hit = table.fast[peek]
        if hit is not None:
            reader.nbits -= hit[1]
            return hit[0]
    code = 0
    by_code = table.by_code
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = by_code.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map the s received magnitude bits to a signed
    coefficient value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_jpeg_block(
    reader: _BitReader, dc_tab: _HuffTable, ac_tab: _HuffTable, pred: int
) -> tuple[np.ndarray, int]:
    """One 8×8 block of QUANTIZED coefficients in zigzag order, plus
    the updated DC predictor."""
    zz = np.zeros(64, np.int32)
    s = _huff_decode(reader, dc_tab)
    pred += _extend(reader.receive(s), s) if s else 0
    zz[0] = pred
    k = 1
    while k < 64:
        rs = _huff_decode(reader, ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run overflows block")
        zz[k] = _extend(reader.receive(s), s)
        k += 1
    return zz, pred


def _jpeg_entropy_chunks(content: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split the entropy-coded data starting at `pos` into destuffed
    chunks, one per restart interval (RST markers are chunk
    boundaries). Returns (chunks, position of the terminating marker's
    0xFF)."""
    chunks: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(content)
    while i < n:
        b = content[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = content[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:  # stuffed 0xFF data byte
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:  # RSTn: restart boundary
            chunks.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # real marker: end of scan
            break
    chunks.append(bytes(cur))
    return chunks, i


def _parse_jpeg(content: bytes) -> dict:
    """Walk the marker stream and Huffman-decode the single baseline
    scan. Returns {"width", "height", "components": [(id, h, v, qtab)],
    "coeffs": [per-component (by, bx, 8, 8) QUANTIZED int blocks]} —
    the pre-IDCT state, exposed so tests can pin the lossless entropy
    layer bit-for-bit against the encoder's coefficients."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _HuffTable] = {}
    ac_tabs: dict[int, _HuffTable] = {}
    frame = None
    restart_interval = 0
    scan = None
    pos = 2
    n = len(content)
    while pos < n:
        if content[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        while pos < n and content[pos] == 0xFF:
            pos += 1  # fill bytes
        if pos >= n:  # stream ends mid-marker (truncated at fill bytes)
            raise ValueError("truncated JPEG (stream ends inside a marker)")
        marker = content[pos]
        pos += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > n:
            raise ValueError("truncated JPEG (marker without a length)")
        seg_len = int.from_bytes(content[pos : pos + 2], "big")
        if seg_len < 2 or pos + seg_len > n:
            raise ValueError(
                f"truncated JPEG segment (marker 0xFF{marker:02X}, "
                f"declared {seg_len} bytes)"
            )
        seg = content[pos + 2 : pos + seg_len]
        pos += seg_len
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq:  # 16-bit entries
                    vals = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
                else:
                    vals = np.frombuffer(
                        seg[i : i + 64], dtype=np.uint8
                    ).astype(np.int64)
                    i += 64
                tab = np.zeros(64, np.int64)
                tab[_ZIGZAG] = vals  # DQT stores zigzag order
                qtabs[tq] = tab.reshape(8, 8)
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. seq.
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError(
                    f"only 8-bit JPEG supported (precision {precision})"
                )
            height = int.from_bytes(seg[1:3], "big")
            width = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, seg[8 + 3 * c]))
            frame = (width, height, comps)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                nsym = sum(bits)
                symbols = list(seg[i + 17 : i + 17 + nsym])
                (ac_tabs if tc else dc_tabs)[th] = _HuffTable(
                    bits, symbols
                )
                i += 17 + nsym
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline sequential JPEG supported "
                f"(SOF marker 0xFF{marker:02X} is progressive/"
                "arithmetic/hierarchical)"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if ns != len(frame[2]):
                # spec-legal but rare: baseline files MAY split into one
                # non-interleaved scan per component — an honest gate,
                # not a crash (a KeyError here would escape the
                # documented ValueError/NotImplementedError contract)
                raise NotImplementedError(
                    f"non-interleaved JPEG scans not supported (SOS has "
                    f"{ns} of {len(frame[2])} frame components)"
                )
            scan_tabs = {}
            for c in range(ns):
                cid = seg[1 + 2 * c]
                td, ta = seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15
                scan_tabs[cid] = (td, ta)
            chunks, pos = _jpeg_entropy_chunks(content, pos)
            scan = (scan_tabs, chunks)
        # else: APPn / COM / DNL — skip
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    width, height, comps = frame
    scan_tabs, chunks = scan
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    coeffs = [
        np.zeros((mcus_y * v, mcus_x * h, 8, 8), np.int32)
        for _, h, v, _ in comps
    ]
    preds = [0] * len(comps)
    chunk_i = 0
    reader = _BitReader(chunks[0])
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            chunk_i += 1
            if chunk_i >= len(chunks):
                raise ValueError("JPEG missing restart marker")
            reader = _BitReader(chunks[chunk_i])
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcus_x)
        for ci, (cid, h, v, _tq) in enumerate(comps):
            td, ta = scan_tabs[cid]
            for by in range(v):
                for bx in range(h):
                    zz, preds[ci] = _decode_jpeg_block(
                        reader, dc_tabs[td], ac_tabs[ta], preds[ci]
                    )
                    blk = np.zeros(64, np.int32)
                    blk[_ZIGZAG] = zz
                    coeffs[ci][my * v + by, mx * h + bx] = blk.reshape(
                        8, 8
                    )
    return {
        "width": width,
        "height": height,
        "components": [
            (cid, h, v, qtabs[tq]) for cid, h, v, tq in comps
        ],
        "coeffs": coeffs,
    }


def _decode_jpeg(content: bytes) -> np.ndarray:
    """Baseline JPEG → (H, W, 3) uint8 RGB. Component planes stay
    float through IDCT and color conversion; the single rounding step
    is floor(x+0.5) on the final RGB (documented so differential
    oracles can reproduce pixels exactly)."""
    p = _parse_jpeg(content)
    width, height = p["width"], p["height"]
    hmax = max(h for _, h, _, _ in p["components"])
    vmax = max(v for _, _, v, _ in p["components"])
    planes = []
    for (cid, h, v, qtab), blocks in zip(p["components"], p["coeffs"]):
        deq = blocks.astype(np.float64) * qtab[None, None]
        # vectorized IDCT over every block of the component at once
        spatial = np.einsum("ux,nmuv,vy->nmxy", _DCT_M, deq, _DCT_M) + 128.0
        by, bx = blocks.shape[:2]
        plane = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        plane = np.clip(plane, 0.0, 255.0)
        if vmax % v or hmax % h:
            raise NotImplementedError(
                f"non-integer chroma upsample ratio ({hmax}/{h}, {vmax}/{v})"
            )
        plane = np.repeat(
            np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1
        )
        planes.append(plane[:height, :width])
    if len(planes) == 1:
        g = np.floor(planes[0] + 0.5).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(planes) != 3:
        raise NotImplementedError(
            f"{len(planes)}-component JPEG not supported (expect 1 or 3)"
        )
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


#: fixed-length canonical Huffman tables the encoder emits via DHT:
#: DC categories 0..11 as 4-bit codes (12 < 2⁴), AC (run,size) symbols
#: EOB, ZRL, and run 0..15 × size 1..10 as 8-bit codes (162 < 2⁸) —
#: prefix-free by construction, all-ones code never assigned
_ENC_DC_SYMBOLS = list(range(12))
_ENC_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_ENC_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC_CODES = {sym: (i, 4) for i, sym in enumerate(_ENC_DC_SYMBOLS)}
_ENC_AC_CODES = {sym: (i, 8) for i, sym in enumerate(_ENC_AC_SYMBOLS)}

#: linear base quant table (1 + 2·(u+v)) scaled by the classic quality
#: mapping (scale 5000/q below 50 else 200−2q); quality 100 → all ones
_JPEG_BASE_QTAB = 1 + 2 * (
    np.arange(8)[:, None] + np.arange(8)[None, :]
)


def jpeg_quality_qtab(quality: int) -> np.ndarray:
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((_JPEG_BASE_QTAB * scale + 50) // 100, 1, 255).astype(
        np.int64
    )


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        while self.nbits:
            self.write(1, 1)  # pad with ones per spec


def _encode_jpeg_block(
    bw: _BitWriter, blk: np.ndarray, pred: int
) -> int:
    """Entropy-code one 8×8 block of QUANTIZED coefficients (natural
    order); returns the new DC predictor."""
    zz = blk.reshape(64)[_ZIGZAG]
    diff = int(zz[0]) - pred
    s = int(abs(diff)).bit_length()
    code, ln = _ENC_DC_CODES[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _ENC_AC_CODES[0xF0]
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        if s > 10:
            raise ValueError(f"AC coefficient {v} exceeds size 10")
        code, ln = _ENC_AC_CODES[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = _ENC_AC_CODES[0x00]  # EOB
        bw.write(code, ln)
    return int(zz[0])


def encode_jpeg_from_coeffs(
    comp_blocks: list[np.ndarray],
    qtabs: list[np.ndarray],
    width: int,
    height: int,
    sampling: list[tuple[int, int]],
    restart_interval: int = 0,
) -> bytes:
    """Serialize QUANTIZED coefficient blocks into a complete baseline
    JFIF stream — the deterministic fixture author for the decoder's
    differential gate (the entropy layer is lossless, so the decoder
    must reproduce these exact coefficients), and the shared back half
    of `encode_jpeg`.

    comp_blocks[i]: (blocks_y, blocks_x, 8, 8) int array for component
    i (1 = grayscale, 3 = YCbCr); qtabs: one 8×8 table per distinct
    slot used (component 0 → table 0, components 1,2 → table
    min(1, len(qtabs)-1)); sampling: (h, v) factor per component."""
    import struct

    ncomp = len(comp_blocks)
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    # DQT (zigzag order on the wire)
    for tq, tab in enumerate(qtabs):
        zz = np.asarray(tab, np.int64).reshape(64)[_ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">H", 3 + 64)
        out += bytes([tq]) + bytes(int(v) for v in zz)
    # SOF0
    out += b"\xff\xc0" + struct.pack(">H", 8 + 3 * ncomp)
    out += struct.pack(">BHHB", 8, height, width, ncomp)
    for ci in range(ncomp):
        h, v = sampling[ci]
        tq = 0 if ci == 0 else min(1, len(qtabs) - 1)
        out += bytes([ci + 1, (h << 4) | v, tq])
    # DHT: one DC + one AC table shared by all components
    for tc, (bits, symbols) in enumerate(
        [(_ENC_DC_BITS, _ENC_DC_SYMBOLS), (_ENC_AC_BITS, _ENC_AC_SYMBOLS)]
    ):
        out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(symbols))
        out += bytes([tc << 4]) + bytes(bits) + bytes(symbols)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * ncomp)
    out += bytes([ncomp])
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    out += b"\x00\x3f\x00"
    # interleaved entropy-coded scan
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    bw = _BitWriter()
    preds = [0] * ncomp
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()
            out += bw.out
            out += bytes(
                [0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)]
            )
            bw = _BitWriter()
            preds = [0] * ncomp
        my, mx = divmod(mcu, mcus_x)
        for ci in range(ncomp):
            h, v = sampling[ci]
            for by in range(v):
                for bx in range(h):
                    preds[ci] = _encode_jpeg_block(
                        bw,
                        comp_blocks[ci][my * v + by, mx * h + bx],
                        preds[ci],
                    )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _plane_to_blocks(
    plane: np.ndarray, blocks_y: int, blocks_x: int
) -> np.ndarray:
    """Float plane → (blocks_y, blocks_x, 8, 8), edge-replicated out to
    the block grid."""
    h, w = plane.shape
    padded = np.pad(
        plane,
        ((0, blocks_y * 8 - h), (0, blocks_x * 8 - w)),
        mode="edge",
    )
    return (
        padded.reshape(blocks_y, 8, blocks_x, 8).transpose(0, 2, 1, 3)
    )


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """(H, W, 3) uint8 RGB → baseline JFIF bytes, pure stdlib+numpy:
    JFIF RGB→YCbCr, box-filter chroma subsampling by the (h, v) luma
    `sampling` factors, float FDCT, quality-scaled quantization
    (round-half-away), fixed-length canonical Huffman tables. The
    test/fixture twin of `_decode_jpeg`, exactly as `encode_png` is
    for `_decode_png`; quality 100 → all-ones tables, so the only loss
    is FDCT/quantizer rounding (roundtrip error bounds pinned in
    tests)."""
    img = np.asarray(img, np.float64)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_jpeg expects (H, W, 3) RGB")
    h_img, w_img = img.shape[:2]
    r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    sh, sv = sampling
    mcus_x = -(-w_img // (8 * sh))
    mcus_y = -(-h_img // (8 * sv))

    def subsample(p: np.ndarray) -> np.ndarray:
        if sh == 1 and sv == 1:
            return p
        hh = -(-p.shape[0] // sv) * sv
        ww = -(-p.shape[1] // sh) * sh
        p = np.pad(
            p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])), mode="edge"
        )
        return p.reshape(hh // sv, sv, ww // sh, sh).mean(axis=(1, 3))

    qt_l = jpeg_quality_qtab(quality).astype(np.float64)
    qt_c = qt_l
    comp_blocks = []
    for plane, (ch, cv), qt in [
        (y, (sh, sv), qt_l),
        (subsample(cb), (1, 1), qt_c),
        (subsample(cr), (1, 1), qt_c),
    ]:
        blocks = _plane_to_blocks(
            plane - 128.0, mcus_y * cv, mcus_x * ch
        )
        fdct = np.einsum("ux,nmxy,vy->nmuv", _DCT_M, blocks, _DCT_M)
        scaled = fdct / qt[None, None]
        quant = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
            np.int32
        )
        comp_blocks.append(quant)
    return encode_jpeg_from_coeffs(
        comp_blocks,
        [qt_l.astype(np.int64)],
        w_img,
        h_img,
        [(sh, sv), (1, 1), (1, 1)],
    )


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """mono int16 PCM → RIFF/WAVE bytes — the fixture/roundtrip twin of
    `wav_pcm_features` (and a usable sink encoding for audio chunks)."""
    import struct

    s = np.asarray(samples, dtype="<i2")
    if s.ndim != 1:
        raise ValueError("encode_wav wants a 1-D int16 sample array")
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    if len(data) % 2:  # RIFF chunks are word-aligned
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_pcm_samples(content: bytes) -> np.ndarray:
    """PCM16 WAV → int64 sample vector: the shared RIFF chunk walk
    (word-aligned, unknown chunks skipped, PCM/16-bit required) behind
    `wav_pcm_features` and `audio_energy_chunks`."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    pos = 12
    fmt_ok = False
    data: bytes | None = None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = content[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("WAV: truncated chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("WAV: short fmt chunk")
            audio_format = int.from_bytes(body[0:2], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_format != 1:
                raise NotImplementedError("only PCM WAV supported")
            if bits != 16:
                raise NotImplementedError("only 16-bit PCM supported")
            fmt_ok = True
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # word alignment
    if not fmt_ok or data is None:
        raise ValueError("WAV: missing fmt or data chunk")
    return np.frombuffer(data[: len(data) // 2 * 2], "<i2").astype(np.int64)


def wav_pcm_features(content: bytes) -> tuple[int, int, int, int]:
    """REAL sample-level features from a PCM16 WAV: (n_samples,
    zero_crossings, energy, peak) — the integer-exact trio every audio
    data pipeline computes before filtering (silence/clipping gates,
    voice-activity heuristics). Walks the RIFF chunks (word-aligned,
    unknown chunks skipped), requires PCM (format 1) 16-bit, reads the
    interleaved samples vectorized; zero crossings count sign flips
    with sign(x) = x >= 0, energy = Σ s² (exact int64), peak =
    max |s|. Raises NotImplementedError for non-PCM/non-16-bit and
    ValueError for corrupt containers."""
    s = wav_pcm_samples(content)
    if len(s) == 0:
        return 0, 0, 0, 0
    nonneg = s >= 0
    zc = int(np.count_nonzero(nonneg[1:] != nonneg[:-1]))
    return len(s), zc, int((s * s).sum()), int(np.abs(s).max())


def audio_pcm_features(df: DataFrame) -> DataFrame:
    """binary WAV column → (n_samples, zero_crossings, energy, peak)
    via Arrow-batched mapInPandas — the sample-level sibling of the
    header-probing duration plan."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = pdf["content"].map(
                lambda b: wav_pcm_features(bytes(b))
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": feats.map(lambda t: t[0]),
                    "zero_crossings": feats.map(lambda t: t[1]),
                    "energy": feats.map(lambda t: t[2]),
                    "peak": feats.map(lambda t: t[3]),
                }
            )

    return df.mapInPandas(
        run,
        "media_id long, n_samples int, zero_crossings int, "
        "energy long, peak int",
    )


def wav_duration_ms(content: bytes) -> int:
    """Duration of a PCM WAV from its RIFF chunks — integer arithmetic
    only, so chunk boundaries are bit-exact reproducible."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    byte_rate = data_size = None
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        csize = int.from_bytes(content[pos + 4 : pos + 8], "little")
        if cid == b"fmt ":
            audio_format = int.from_bytes(content[pos + 8 : pos + 10], "little")
            if audio_format != 1:
                raise NotImplementedError("only PCM WAV supported")
            byte_rate = int.from_bytes(content[pos + 16 : pos + 20], "little")
        elif cid == b"data":
            data_size = csize
        pos += 8 + csize + (csize % 2)  # chunks are word-aligned
    if not byte_rate or data_size is None:
        raise ValueError("missing fmt/data chunk")
    return data_size * 1000 // byte_rate


def luma_mean(img: np.ndarray) -> float:
    """Rec.601 mean luma normalized to [0, 1]."""
    l = (
        0.299 * img[:, :, 0].astype(np.float64)
        + 0.587 * img[:, :, 1].astype(np.float64)
        + 0.114 * img[:, :, 2].astype(np.float64)
    )
    return float(l.mean() / 255.0)


def encode_ppm(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → binary PPM (P6) bytes — the inverse of
    `decode_image` for the resize path's re-encode step."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def _fake_decode(content: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for a real image decoder: dimensions and
    luma derived from a sha256 of the bytes. Replaces PIL/-cv2 in this
    container; swap for a real decoder in production."""
    h = hashlib.sha256(content or b"").digest()
    height = 1 + h[0] % 64
    width = 1 + h[1] % 64
    mean_luma = h[2] / 255.0
    return height, width, mean_luma


# ------------------------------------------------------------- GIF codec
#: GIF87a/89a, pure stdlib+numpy: single-frame palette images with the
#: full LZW variable-width code stream (9→12-bit growth, clear-code
#: table resets), ≤255-byte sub-block framing, Adam-style 4-pass
#: interlace, and GIF89a extension-block skipping. The web's
#: second-most-common legacy raster format; crawled corpora carry it.


def _gif_lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable code width starting at
    min_code_size+1, LSB-first bit packing, CLEAR emitted first and on
    table overflow at 4096, EOI last."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_bits: list[tuple[int, int]] = []  # (code, width)

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = fresh()
    out_bits.append((clear, width))
    w = b""
    for byte in data:
        k = bytes([byte])
        wk = w + k
        if wk in table:
            w = wk
            continue
        out_bits.append((table[w], width))
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == 4096:
            out_bits.append((clear, width))
            table, next_code, width = fresh()
        w = k
    if w:
        out_bits.append((table[w], width))
    out_bits.append((eoi, width))
    # LSB-first pack
    buf = bytearray()
    acc = 0
    nbits = 0
    for code, cw in out_bits:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """Inverse of _gif_lzw_encode; raises ValueError on corrupt
    streams (bad code, missing EOI, wrong pixel count)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0  # bit cursor
    total_bits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("GIF: LZW stream truncated")
        v = 0
        for i in range(width):
            byte = data[(pos + i) >> 3]
            if (byte >> ((pos + i) & 7)) & 1:
                v |= 1 << i
        pos += width
        return v

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while True:
        code = read(width)
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF: first code not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF: code out of range")
        out += entry
        prev = entry
        # one EARLY relative to the table length (the giflib rule): the
        # first post-clear code stores no entry, so the decoder's table
        # lags the encoder's next_code by exactly one — the encoder
        # widens after its add makes next_code == 1<<width, which is
        # this table's (1<<width) - 1
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        if len(out) > n_expected:
            raise ValueError("GIF: more pixels than image descriptor")
    if len(out) != n_expected:
        raise ValueError(
            f"GIF: decoded {len(out)} pixels, descriptor says {n_expected}"
        )
    return bytes(out)


#: interlace passes: (start row, step) in pass order (GIF spec appendix E)
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(
    indices: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
) -> bytes:
    """(H, W) uint8 palette indices + (256, 3) uint8 palette → GIF89a
    bytes — the fixture/roundtrip twin of `_decode_gif` and a usable
    palette-image sink encoding."""
    import struct

    idx = np.asarray(indices, dtype=np.uint8)
    if idx.ndim != 2:
        raise ValueError("encode_gif wants (H, W) palette indices")
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.shape != (256, 3):
        raise ValueError("encode_gif wants a full (256, 3) palette")
    h, w = idx.shape
    out = bytearray(b"GIF89a")
    # logical screen descriptor: global color table, 8 bits, 256 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += pal.tobytes()
    # image descriptor at (0, 0), no local table
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
    )
    if interlace:
        rows = [r for start, step in _GIF_INTERLACE for r in range(start, h, step)]
        payload = idx[rows].tobytes()
    else:
        payload = idx.tobytes()
    out.append(8)  # LZW minimum code size
    stream = _gif_lzw_encode(payload, 8)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _decode_gif(content: bytes) -> np.ndarray:
    """GIF87a/89a → (H, W, 3) uint8: header + logical screen
    descriptor, global/local color tables, GIF89a extension blocks
    skipped, sub-block reassembly, LZW decode, interlace reorder,
    palette resolution. First image frame only (animation = frame 1,
    the still-image contract); raises ValueError on corrupt input."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(content) < 13:
        raise ValueError("GIF: truncated logical screen descriptor")
    _, _, packed, _, _ = struct.unpack("<HHBBB", content[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(
            content[pos : pos + 3 * n], np.uint8
        ).reshape(-1, 3)
        if len(gct) != n:
            raise ValueError("GIF: truncated global color table")
        pos += 3 * n
    while pos < len(content):
        b0 = content[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{b0:02x}")
        left, top, w, h, flags = struct.unpack(
            "<HHHHB", content[pos + 1 : pos + 10]
        )
        pos += 10
        pal = gct
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            pal = np.frombuffer(
                content[pos : pos + 3 * n], np.uint8
            ).reshape(-1, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF: image has no color table")
        if pos >= len(content):
            raise ValueError("GIF: missing LZW minimum code size")
        min_code = content[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise ValueError(f"GIF: bad LZW minimum code size {min_code}")
        stream = bytearray()
        while True:
            if pos >= len(content):
                raise ValueError("GIF: unterminated image data")
            n = content[pos]
            pos += 1
            if n == 0:
                break
            stream += content[pos : pos + n]
            pos += n
        raw = _gif_lzw_decode(bytes(stream), min_code, w * h)
        idx = np.frombuffer(raw, np.uint8).reshape(h, w)
        if flags & 0x40:  # interlaced: rows arrive in 4 passes
            order = [
                r for start, step in _GIF_INTERLACE for r in range(start, h, step)
            ]
            deinter = np.empty_like(idx)
            deinter[order] = idx
            idx = deinter
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("GIF: palette index out of range")
        return pal[idx]
    raise ValueError("GIF: no image descriptor before trailer")


def decode_image_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """binary → (height, width, mean_luma, sha) via Arrow-batched
    mapInPandas. `fake=False` REALLY decodes P6/P5/24-bpp BMP with the
    pure-numpy decoder (dims + Rec.601 mean luma); compressed formats
    raise with a clear message.
    """

    def _decode(b: bytes) -> tuple[int, int, float]:
        img = decode_image(b)
        return img.shape[0], img.shape[1], luma_mean(img)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoder = _fake_decode if fake else _decode
        for pdf in it:
            feats = pdf["content"].map(lambda b: decoder(bytes(b or b"")))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "height": feats.map(lambda t: t[0]).astype("int32"),
                    "width": feats.map(lambda t: t[1]).astype("int32"),
                    "mean_luma": feats.map(lambda t: t[2]),
                    "content_sha": pdf["content"].map(
                        lambda b: hashlib.sha256(bytes(b or b"")).hexdigest()
                    ),
                }
            )

    return df.mapInPandas(_batches, IMAGE_FEATURES_DDL)


def resize_plan(df: DataFrame, max_side: int = 32, fake: bool = True) -> DataFrame:
    """Image resize *plan*: aspect-preserving downscale to `max_side`.

    Target dims use INTEGER arithmetic (h·max_side // max(h,w)) so the
    result is bit-exact reproducible in any engine. `fake=False` reads
    REAL source dims via the pure-numpy decoder (see `resize_images`
    for the path that actually resamples pixels); the stub derives them
    from the fake decoder. Fully vectorized numpy inside mapInPandas."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def real_dims(b: bytes) -> tuple[int, int, float]:
            img = decode_image(b)
            return img.shape[0], img.shape[1], 0.0

        decoder = _fake_decode if fake else real_dims
        for pdf in it:
            dims = pdf["content"].map(lambda b: decoder(bytes(b or b"")))
            h = dims.map(lambda t: t[0]).to_numpy(dtype="int64")
            w = dims.map(lambda t: t[1]).to_numpy(dtype="int64")
            longest = np.maximum(h, w)
            scaleable = longest > max_side
            out_h = np.where(scaleable, h * max_side // longest, h)
            out_w = np.where(scaleable, w * max_side // longest, w)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "src_height": h.astype("int32"),
                    "src_width": w.astype("int32"),
                    "height": np.maximum(out_h, 1).astype("int32"),
                    "width": np.maximum(out_w, 1).astype("int32"),
                }
            )

    return df.mapInPandas(
        _batches,
        "media_id long, src_height int, src_width int, height int, width int",
    )


def resize_images(df: DataFrame, max_side: int = 32) -> DataFrame:
    """REAL aspect-preserving downscale: decode (pure numpy), nearest-
    neighbor resample (index arithmetic `floor(i·src/dst)` — no
    interpolation library), re-encode as binary PPM. Target dims use
    the same integer rule as `resize_plan`, so the two paths agree on
    shape; the emitted `content` is a decodable image. Runs per Arrow
    batch; per-image numpy fancy-indexing does the resample."""

    def _resize_one(b: bytes) -> tuple[int, int, bytes]:
        img = decode_image(b)
        h, w = img.shape[:2]
        longest = max(h, w)
        if longest > max_side:
            out_h = max(h * max_side // longest, 1)
            out_w = max(w * max_side // longest, 1)
            rows = np.arange(out_h) * h // out_h
            cols = np.arange(out_w) * w // out_w
            img = img[rows][:, cols]
        else:
            out_h, out_w = h, w
        return out_h, out_w, encode_ppm(img)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf["content"].map(lambda b: _resize_one(bytes(b or b"")))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "height": out.map(lambda t: t[0]).astype("int32"),
                    "width": out.map(lambda t: t[1]).astype("int32"),
                    "content": out.map(lambda t: t[2]),
                }
            )

    return df.mapInPandas(
        _batches, "media_id long, height int, width int, content binary"
    )


def audio_chunk_plan(
    df: DataFrame, chunk_ms: int = 10_000, fake: bool = True
) -> DataFrame:
    """Audio chunking *plan*: split each clip into fixed-length windows
    (the standard pre-step for ASR/feature extraction at scale — each
    chunk becomes one unit of downstream work, so skewed clip lengths
    can't create straggler tasks).

    `fake=False` probes REAL PCM WAV headers (`wav_duration_ms` —
    integer arithmetic over the RIFF chunks, no audio library); the stub
    derives a fake duration from sha256 bytes (1000 + (b0·256 + b1) %
    59000 ms). Either way chunk boundaries are bit-exact reproducible
    and the row explosion is vectorized repeat/arange — no per-row
    Python beyond the per-clip header probe."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fake_ms(b: bytes) -> int:
            d = hashlib.sha256(b).digest()
            return 1000 + ((d[0] * 256 + d[1]) % 59000)

        probe = fake_ms if fake else wav_duration_ms
        for pdf in it:
            dur = pdf["content"].map(lambda b: probe(bytes(b or b""))).to_numpy(
                dtype="int64"
            )
            n_chunks = -(-dur // chunk_ms)  # ceil div
            total = int(n_chunks.sum())
            starts = np.repeat(np.cumsum(n_chunks) - n_chunks, n_chunks)
            idx = np.arange(total) - starts
            start_ms = idx * chunk_ms
            dur_rep = np.repeat(dur, n_chunks)
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(pdf["media_id"].to_numpy(), n_chunks),
                    "chunk_idx": idx.astype("int32"),
                    "start_ms": start_ms.astype("int32"),
                    "end_ms": np.minimum(start_ms + chunk_ms, dur_rep).astype(
                        "int32"
                    ),
                }
            )

    return df.mapInPandas(
        _batches, "media_id long, chunk_idx int, start_ms int, end_ms int"
    )


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan*: at scale, video bytes explode to
    frames inside mapInPandas (one video per batch row, frames emitted
    as multiple rows). Stub derives a fake frame count from the byte
    length; the row explosion is fully vectorized (repeat + cumsum
    arithmetic — no per-row Python inside the Arrow batch)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lens = pdf["content"].str.len().fillna(0).astype("int64").to_numpy()
            n_frames = 1 + (lens % 5)
            total = int(n_frames.sum())
            # per-media frame counter: global arange minus each media's start
            starts = np.repeat(np.cumsum(n_frames) - n_frames, n_frames)
            frame_no = np.arange(total) - starts
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(pdf["media_id"].to_numpy(), n_frames),
                    "frame_idx": (frame_no * every_n).astype("int32"),
                }
            )

    return df.mapInPandas(_batches, "media_id long, frame_idx int")


def dhash_chunks_np(img: np.ndarray) -> list[int]:
    """dHash of one decoded (8, 9, 3) image as four 16-bit chunk ints —
    the numpy kernel shared by `image_dhash_chunks` (still images) and
    `video_frame_dhash` (per-frame). Integer Rec.601 milli-luma
    comparisons; bit index r·8+c; chunk k packs bits [16k, 16k+16)."""
    a = img.astype(np.int64)
    luma = 299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]
    if luma.shape != (8, 9):
        raise ValueError(
            f"dhash expects a 9x8 image, got {luma.shape[1]}x"
            f"{luma.shape[0]} (resize first)"
        )
    bits = (luma[:, :-1] < luma[:, 1:]).astype(np.int64).ravel()
    weights = 1 << np.arange(16, dtype=np.int64)
    return [
        int((bits[k * 16 : k * 16 + 16] * weights).sum()) for k in range(4)
    ]


def image_dhash_chunks(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """(id, c0..c3): 64-bit perceptual DIFFERENCE HASH (dHash) of each
    decoded image, packed as four 16-bit chunk values — the pigeonhole-
    ready, sign-safe representation (packing bit 63 into one BIGINT
    would set the sign bit; four 0..65535 INTs sidestep the two's-
    complement game in every engine).

    dHash (Krawetz's classic near-dup fingerprint): on the integer
    Rec.601 milli-luma grid (299R+587G+114B — exact integers, so the
    comparisons replay bit-for-bit in any engine), bit(r, c) = 1 iff
    L[r][c] < L[r][c+1] for an (h, w) image with w = 9, h = 8 → 8
    comparisons × 8 rows = 64 bits; bit index r·8+c; chunk k packs bits
    [16k, 16k+16). Gradient-based, so it is INVARIANT to uniform
    brightness shift (every comparison moves both sides equally) — the
    property that makes it a near-dup detector rather than a checksum.

    Inputs must already be on the 9×8 grid — real corpora resize first
    (`resize_images` is the in-repo nearest-neighbor step; production
    stacks use their imaging library's area-average). Decoding uses the
    REAL pure-numpy codec path (`decode_image`), Arrow-batched; one
    numpy comparison per image, no per-pixel Python."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, chunks = [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                ids.append(mid)
                chunks.append(
                    dhash_chunks_np(decode_image(bytes(content)))
                )
            arr = np.asarray(chunks, dtype=np.int64).reshape(-1, 4)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "c0": arr[:, 0],
                    "c1": arr[:, 1],
                    "c2": arr[:, 2],
                    "c3": arr[:, 3],
                }
            )

    return df.mapInPandas(
        _batches, f"{id_col} long, c0 int, c1 int, c2 int, c3 int"
    )


def dhash_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """(id_a, id_b, hamming): image near-dup pairs by pigeonhole on the
    four 16-bit dHash chunks — any pair within hamming distance 3
    agrees exactly on ≥1 chunk, so the candidate join is four
    equi-joins (union'd via one exploded (chunk_idx, cval) table),
    never an all-pairs scan. The shuffle discipline mirrors
    dedup.simhash_candidates: the self-join carries (chunk_idx, cval,
    id) only, chunk values re-attach after pair dedup, and degenerate
    hot buckets (solid-color boilerplate images) are capped. Verify is
    exact: hamming = Σ bit_count(xor(chunk)) ≤ max_hamming. Requires
    max_hamming ≤ 3 for the 4-chunk pigeonhole to be lossless."""
    if max_hamming > 3:
        raise ValueError("4-chunk pigeonhole is lossless only for hamming <= 3")
    from pyspark.sql import Window

    # materialize the signature table ONCE: it feeds both sides of the
    # pigeonhole self-join AND both exact-verify re-attach sides — four
    # plan branches that each re-ran the upstream Arrow decode
    # (image/audio/video payload → 4 ints) without this. Decode once,
    # move the 4-int rows (guide §8's decide-with-small-rows rule).
    sigs = sigs.localCheckpoint(eager=False)
    chunked = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("chunk_idx"),
                        F.col(f"c{k}").alias("cval"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "cc.chunk_idx", "cc.cval")
    if max_bucket_size:
        w = Window.partitionBy("chunk_idx", "cval")
        chunked = (
            chunked.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"c{k}").alias(f"a{k}") for k in range(4)],
    )
    sig_b = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"c{k}").alias(f"b{k}") for k in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}")))
        for k in range(4)
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def audio_energy_chunks(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    frame_len: int = 2,
) -> DataFrame:
    """(id, c0..c3): 64-bit ENERGY-CONTOUR difference hash of each
    decoded PCM WAV — the audio sibling of `image_dhash_chunks`, with
    the identical chunk contract so `dhash_near_dup_pairs` pairs both
    modalities unchanged.

    The clip's first 65 frames of `frame_len` samples reduce to exact
    integer energies E[f] = Σ s² (int64 — every quantity replays
    bit-for-bit in any engine); bit(f) = 1 iff E[f] < E[f+1] for
    f = 0..63, packed as four 16-bit chunks. Comparing CONSECUTIVE
    energies makes the hash invariant under uniform GAIN (×g scales
    every energy by g² — no comparison moves), the audio analog of
    dHash's brightness invariance: a re-encoded louder copy of the
    same clip hashes identically, while a different clip's energy
    contour diverges everywhere.

    Decode is the REAL RIFF walk (`wav_pcm_samples`), Arrow-batched;
    clips shorter than 65·frame_len samples raise (real pipelines
    gate on `wav_duration_ms` first)."""
    need = 65 * int(frame_len)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, chunks = [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                s = wav_pcm_samples(bytes(content))
                if len(s) < need:
                    raise ValueError(
                        f"energy contour needs >= {need} samples, got "
                        f"{len(s)} (gate on wav_duration_ms first)"
                    )
                e = (s[:need] ** 2).reshape(65, int(frame_len)).sum(axis=1)
                bits = (e[:-1] < e[1:]).astype(np.int64)
                weights = 1 << np.arange(16, dtype=np.int64)
                ids.append(mid)
                chunks.append(
                    [
                        int((bits[k * 16 : k * 16 + 16] * weights).sum())
                        for k in range(4)
                    ]
                )
            arr = np.asarray(chunks, dtype=np.int64).reshape(-1, 4)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "c0": arr[:, 0],
                    "c1": arr[:, 1],
                    "c2": arr[:, 2],
                    "c3": arr[:, 3],
                }
            )

    return df.mapInPandas(
        _batches, f"{id_col} long, c0 int, c1 int, c2 int, c3 int"
    )


#: Minimal deterministic frame container for the video plumbing: magic
#: 'VID0', u16-LE frame count, then length-prefixed (u32-LE) frame
#: blobs, each any image `decode_image` handles. Real video codecs
#: (H.264/VP9/AV1) are out of this container's scope — production
#: clusters decode via ffmpeg; the Spark-side shape (container walk →
#: frame explode → per-frame features) is what this module makes real.
VIDEO_MAGIC = b"VID0"


def encode_video_frames(frames: list[bytes]) -> bytes:
    """Pack encoded image blobs into the VID0 container."""
    if len(frames) > 0xFFFF:
        raise ValueError("VID0 caps at 65535 frames")
    out = [VIDEO_MAGIC, len(frames).to_bytes(2, "little")]
    for f in frames:
        out.append(len(f).to_bytes(4, "little"))
        out.append(f)
    return b"".join(out)


def decode_video_frames(content: bytes) -> list[bytes]:
    """VID0 container → list of encoded frame blobs (the container
    walk; frames decode individually via `decode_image`)."""
    if content[:4] != VIDEO_MAGIC:
        raise NotImplementedError(
            "not a VID0 container (real video codecs need ffmpeg — out "
            "of scope here)"
        )
    n = int.from_bytes(content[4:6], "little")
    frames, pos = [], 6
    for _ in range(n):
        if pos + 4 > len(content):
            raise ValueError("VID0: truncated frame header")
        ln = int.from_bytes(content[pos : pos + 4], "little")
        pos += 4
        blob = content[pos : pos + ln]
        if len(blob) != ln:
            raise ValueError("VID0: truncated frame body")
        frames.append(blob)
        pos += ln
    return frames


def video_frame_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    stride: int = 1,
) -> DataFrame:
    """(id, frame_idx, c0..c3): per-frame dHash over a VID0 video
    column — the frame-explode shape (`frame_sample_plan` models it
    with fakes; this is the real path): one container row fans out to
    one row per frame inside the Arrow batch, each frame decoding
    through the real image codecs and hashing via the shared
    `dhash_chunks_np` kernel. Downstream, `video_near_dup_pairs` joins
    videos on identical frame signatures.

    `stride` > 1 samples every stride-th frame (frame_idx % stride ==
    0) — the index-build economy knob: the container walk is
    length-prefix slicing either way, but unsampled frames NEVER pay
    the image decode + hash (the dominant per-frame cost), so an
    index built at stride s costs ~1/s of the full build in both CPU
    and index rows. Pair it with a FULL-walk probe side
    (`video_sampled_near_dup_pairs`): a strided-index/full-probe join
    detects any shared run of ≥ `stride` frames with probability 1,
    where striding BOTH sides misses every re-cut whose frame shift
    isn't a multiple of the stride (the alignment failure pinned in
    tests/test_dhash.py)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidx, chunks = [], [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                for j, blob in enumerate(decode_video_frames(bytes(content))):
                    if j % stride:
                        continue
                    ids.append(mid)
                    fidx.append(j)
                    chunks.append(dhash_chunks_np(decode_image(blob)))
            arr = np.asarray(chunks, dtype=np.int64).reshape(-1, 4)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "c0": arr[:, 0],
                    "c1": arr[:, 1],
                    "c2": arr[:, 2],
                    "c3": arr[:, 3],
                }
            )

    return df.mapInPandas(
        _batches,
        f"{id_col} long, frame_idx int, c0 int, c1 int, c2 int, c3 int",
    )


def video_near_dup_pairs(
    frames: DataFrame,
    id_col: str = "media_id",
    min_shared: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """(id_a, id_b, shared_frames): video pairs sharing >= min_shared
    DISTINCT frame signatures — containment-style near-dup for video
    (re-cut / re-branded copies keep most frames byte-different but
    perceptually identical, which is exactly what the per-frame dHash
    erases). SET semantics: each video's frame signatures dedup before
    the join (a video looping one frame 100x shares ONE signature), the
    equi-join carries (signature, id) only, hot signatures (black
    frames, title cards) are capped like every banded join in this
    repo, and the pair count is an exact group-by — no all-pairs scan
    anywhere."""
    from pyspark.sql import Window

    sig = frames.select(id_col, "c0", "c1", "c2", "c3").dropDuplicates(
        [id_col, "c0", "c1", "c2", "c3"]
    )
    if max_bucket_size:
        w = Window.partitionBy("c0", "c1", "c2", "c3")
        sig = (
            sig.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c0") == F.col("b.c0"))
            & (F.col("a.c1") == F.col("b.c1"))
            & (F.col("a.c2") == F.col("b.c2"))
            & (F.col("a.c3") == F.col("b.c3"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared)
    )


def video_sampled_near_dup_pairs(
    frames_probe: DataFrame,
    frames_index: DataFrame,
    id_col: str = "media_id",
    min_shared: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """(probe_id, index_id, shared_sampled): video near-dup detection
    against a FRAME-SAMPLED index — the honest way to spend a stride
    budget. `frames_index` carries strided signatures (every s-th
    frame, built at ~1/s the decode cost via `video_frame_dhash(...,
    stride=s)`); `frames_probe` walks ALL frames of the probe side.
    The asymmetry is load-bearing: any shared frame RUN of length ≥ s
    contains a sampled index frame, so re-cuts are detected regardless
    of their frame-shift — whereas striding both sides only matches
    when the shift ≡ 0 (mod s), missing almost every re-cut (the
    alignment failure pinned in tests/test_dhash.py). Same discipline
    as `video_near_dup_pairs`: DISTINCT signatures per video on each
    side, hot-signature caps, the equi-join carries (signature, id)
    only, exact group-by count — never an all-pairs scan. Output is
    ORIENTED (probe vs index; a pair can appear in both orientations
    with different shared counts) and self-pairs are excluded. The
    recall trade vs the full-index path is runs shorter than the
    stride — measured on the planted fixture in tests/test_dhash.py."""
    from pyspark.sql import Window

    def _distinct_capped(frames: DataFrame) -> DataFrame:
        sig = frames.select(id_col, "c0", "c1", "c2", "c3").dropDuplicates(
            [id_col, "c0", "c1", "c2", "c3"]
        )
        if max_bucket_size:
            w = Window.partitionBy("c0", "c1", "c2", "c3")
            sig = (
                sig.withColumn("__bsz", F.count(F.lit(1)).over(w))
                .filter(F.col("__bsz") <= max_bucket_size)
                .drop("__bsz")
            )
        return sig

    p = _distinct_capped(frames_probe).alias("p")
    i = _distinct_capped(frames_index).alias("i")
    return (
        p.join(
            i,
            (F.col("p.c0") == F.col("i.c0"))
            & (F.col("p.c1") == F.col("i.c1"))
            & (F.col("p.c2") == F.col("i.c2"))
            & (F.col("p.c3") == F.col("i.c3"))
            & (F.col(f"p.{id_col}") != F.col(f"i.{id_col}")),
        )
        .groupBy(
            F.col(f"p.{id_col}").alias("probe_id"),
            F.col(f"i.{id_col}").alias("index_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_sampled"))
        .filter(F.col("shared_sampled") >= min_shared)
    )


def build_mih_index(sigs: DataFrame, path: str, cb_bits: int = 8) -> None:
    """Persist a MULTI-INDEX-HASHING index (Norouzi, Punjani & Fleet,
    CVPR 2012) over 4×16-bit signature chunks: four tables, table k
    partitioned by chunk k's top `cb_bits` bits (`cb` = c{k} >>
    (16 − cb_bits); 256 partitions at the default 8 — the right grain
    for 10⁹-image corpora; small fixtures pass 4 so the build isn't
    dominated by empty-partition commit overhead), every row carrying
    the FULL signature so a probe
    never needs a second lookup. The pigeonhole guarantee: any
    signature within hamming r ≤ 3 of a query agrees EXACTLY on ≥1 of
    the 4 chunks, so probing one partition per table (then filtering
    to the exact chunk value) reaches every radius-3 neighbor while
    reading ~4/256 of the index. Signatures are 4 ints per medium —
    at 10⁹ images this index is ~16 GB against the corpus's media
    bytes, and each probe reads ~256 MB of it, partition-pruned."""
    from ..sources.sinks import write_partitioned_parquet

    shift = 16 - int(cb_bits)
    for k in range(4):
        write_partitioned_parquet(
            sigs.withColumn("cb", F.shiftright(F.col(f"c{k}"), shift)),
            os.path.join(path, f"table{k}"),
            ["cb"],
        )


def mih_bulk_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    max_hamming: int = 3,
    id_col: str = "media_id",
    qid_col: str = "query_id",
    cb_bits: int = 8,
    exclude_self: bool = False,
) -> DataFrame:
    """(query_id, id, hamming): batch perceptual ingest gate — every
    query signature in the DataFrame probes the persisted MIH index in
    ONE job (the bulk twin of `mih_topk_from_index`, whose per-query
    partition-pruned read is the request path). Four joins (table k on
    (cb, exact chunk k) — the query side derives cb in-plan), union,
    per-(query, candidate) dedup (a pair can agree on several chunks),
    exact xor-popcount hamming ≤ max_hamming, and a per-query
    (hamming, id) top-k window. At bulk query volume the union of
    probed buckets approaches the whole index — the honest bulk shape;
    the per-query path's partition pruning is the ONLINE shape. The
    pigeonhole guarantee (≥1 chunk agrees within radius 3) makes the
    probe lossless, same as the single-query leg. `exclude_self` drops
    candidate == query rows — the ingest-gate question is "does
    anything ELSE sit within radius r?"."""
    if max_hamming > 3:
        raise ValueError("4-chunk pigeonhole is lossless only for hamming <= 3")
    shift = 16 - int(cb_bits)
    q = queries.select(
        qid_col, *[F.col(f"c{j}").alias(f"q{j}") for j in range(4)]
    )
    cands = None
    for t in range(4):
        idx_t = spark.read.parquet(os.path.join(path, f"table{t}"))
        probe = q.withColumn("cb", F.shiftright(F.col(f"q{t}"), shift))
        leg = idx_t.join(
            probe,
            (idx_t["cb"] == probe["cb"]) & (idx_t[f"c{t}"] == probe[f"q{t}"]),
        ).select(
            qid_col,
            "q0",
            "q1",
            "q2",
            "q3",
            idx_t[id_col].alias(id_col),
            *[idx_t[f"c{j}"].alias(f"c{j}") for j in range(4)],
        )
        cands = leg if cands is None else cands.unionByName(leg)
    cands = cands.dropDuplicates([qid_col, id_col])
    if exclude_self:
        cands = cands.filter(F.col(qid_col) != F.col(id_col))
    ham = sum(
        F.bit_count(F.col(f"c{j}").bitwiseXOR(F.col(f"q{j}")))
        for j in range(4)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(qid_col).orderBy("hamming", id_col)
    return (
        cands.select(qid_col, id_col, ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def mih_topk_from_index(
    spark,
    path: str,
    qsig: list[int],
    k: int = 10,
    max_hamming: int = 3,
    id_col: str = "media_id",
    cb_bits: int = 8,
) -> DataFrame:
    """(id, hamming): the `k` nearest signatures to `qsig` within
    hamming radius `max_hamming`, served from the persisted MIH index —
    the request path of the perceptual family (dhash_near_dup_pairs is
    its batch dedup sibling; this is what an ingest gate runs per new
    image: "have we seen this, or something 3 bits away?").

    Four partition-pruned reads (table k, partition qsig[k] >> 8,
    filtered to the exact chunk value), union, per-id dedup, exact
    xor-popcount hamming against the query literals, radius filter,
    and a TakeOrderedAndProject top-k on (hamming, id) — fully
    deterministic and integer-exact, so the SQL twin replays it over
    the signature table's relational shadow. Requires max_hamming ≤ 3
    (the 4-chunk pigeonhole bound); a larger radius needs more tables
    or in-partition neighborhood enumeration."""
    if max_hamming > 3:
        raise ValueError("4-chunk pigeonhole is lossless only for hamming <= 3")
    q = [int(x) for x in qsig]
    if len(q) != 4:
        raise ValueError("qsig must be the 4 chunk values")
    shift = 16 - int(cb_bits)
    cands = None
    for t in range(4):
        part = (
            spark.read.parquet(os.path.join(path, f"table{t}"))
            .filter(F.col("cb") == (q[t] >> shift))
            .filter(F.col(f"c{t}") == q[t])
            .select(id_col, "c0", "c1", "c2", "c3")
        )
        cands = part if cands is None else cands.unionByName(part)
    cands = cands.dropDuplicates([id_col])
    ham = sum(
        F.bit_count(F.col(f"c{j}").bitwiseXOR(F.lit(q[j]))) for j in range(4)
    )
    return (
        cands.select(id_col, ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("hamming", id_col)
        .limit(k)
    )
