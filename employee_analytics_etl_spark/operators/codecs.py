"""Pure-Python media codecs: PPM (P6), uncompressed 24-bit BMP, PNG,
baseline JPEG, PCM WAV.

The container ships no PIL/ffmpeg, but these formats are decodable with
numpy + stdlib (zlib for PNG, an 8x8 DCT matmul pair for JPEG) — which
un-stubs the multimodal ``decode="real"`` path with true pixel math
instead of byte statistics. Animated GIF (full GIF-LZW, below) covers
the multi-frame/video container case; progressive/subsampled JPEG,
MP3, and MP4/WebM still raise at the marked codec call site.

All functions are plain ``bytes → numpy`` (and back for PNG, JPEG,
WAV and GIF) so they are unit-testable without Spark and ride inside
Arrow ``mapInPandas`` kernels unchanged. Arrays are HxWx3 uint8 RGB.

r11: MP3 joins at the STRUCTURE level — ``parse_mp3_frames`` walks
frame headers (duration / per-frame bitrate / channels / ID3 skip)
without audio decode, so only full PCM decode of the Huffman payload
still raises for MP3. MP4/WebM and progressive/subsampled JPEG remain
fully at the boundary.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------- PPM (P6)

def _read_ppm_tokens(data: bytes, n_tokens: int) -> tuple[list[int], int]:
    """Read ``n_tokens`` whitespace-separated ASCII integers after the
    magic, skipping ``#`` comments; returns (values, offset just past
    the single whitespace byte that terminates the last token)."""
    vals: list[int] = []
    i = 2  # past 'P6'
    while len(vals) < n_tokens:
        # skip whitespace and comments
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if i < len(data) and data[i : i + 1] == b"#":
            while i < len(data) and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        vals.append(int(data[i:j]))
        i = j
    return vals, i + 1  # exactly one whitespace byte after maxval


def decode_ppm(data: bytes) -> np.ndarray:
    if data[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    (w, h, maxval), off = _read_ppm_tokens(data, 3)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    px = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=off)
    return px.reshape(h, w, 3).copy()


# ------------------------------------------------------- BMP (24bpp BI_RGB)

def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte multiples
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=pix_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR → RGB


# ----------------------------------------------------------- PNG (RFC 2083)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(data: bytes):
    i = 8
    while i + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, i)
        ctype = data[i + 4 : i + 8]
        yield ctype, data[i + 8 : i + 8 + length]
        if ctype == b"IEND":
            return
        i += 12 + length  # len + type + data + crc


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> np.ndarray:
    """Dependency-free PNG decode: stdlib ``zlib`` inflates the IDAT
    stream; the five scanline filters (None/Sub/Up/Average/Paeth) are
    un-applied per the spec. Supports 8-bit depth, color types 0
    (grayscale, widened to RGB), 2 (RGB), 3 (palette via PLTE), 4
    (gray+alpha) and 6 (RGBA) — alpha is dropped (analytics features
    are over the color planes); returns HxWx3 uint8 RGB. 16-bit and
    Adam7-interlaced images raise at the marked boundary."""
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    w = h = None
    depth = ctype_code = interlace = None
    palette = None
    idat = bytearray()
    for ctype, body in _png_chunks(data):
        if ctype == b"IHDR":
            w, h, depth, ctype_code, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8:
        raise NotImplementedError(f"{depth}-bit PNG needs a real codec (PIL)")
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG needs a real codec (PIL)")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype_code)
    if channels is None:
        raise ValueError(f"unknown PNG color type {ctype_code}")

    raw = zlib.decompress(bytes(idat))
    bpp = channels  # bytes per pixel (8-bit depth)
    stride = w * channels
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG scanline payload size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += 1 + stride
        if ftype == 0:
            recon = row.copy()
        elif ftype == 1:  # Sub
            recon = row.copy()
            for x in range(bpp, stride):
                recon[x] = (int(recon[x]) + int(recon[x - bpp])) & 0xFF
        elif ftype == 2:  # Up
            recon = (row.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            recon = row.copy()
            for x in range(stride):
                left = int(recon[x - bpp]) if x >= bpp else 0
                recon[x] = (int(row[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            recon = row.copy()
            for x in range(stride):
                left = int(recon[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                recon[x] = (int(row[x]) + _paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = recon
        prev = recon
    px = out.reshape(h, w, channels)
    if ctype_code == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[px[..., 0]].copy()
    if channels == 1:
        return np.repeat(px, 3, axis=2).copy()
    if channels == 2:  # gray + alpha
        return np.repeat(px[..., :1], 3, axis=2).copy()
    return px[..., :3].copy()  # RGB / RGBA (alpha dropped)


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal RGB PNG encoder (filter type 0 rows, one zlib stream) —
    the exact inverse of decode_png's color-type-2 path; used by tests
    and fixture generators so PNG round-trips stay dependency-free."""
    import zlib

    h, w, c = arr.shape
    assert c == 3
    body = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    body[:, 1:] = np.ascontiguousarray(arr, dtype=np.uint8).reshape(h, w * 3)
    raw = zlib.compress(body.tobytes(), 6)

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw) + chunk(b"IEND", b"")
    )


# -------------------------------------------- JPEG (baseline DCT, ITU T.81)
#
# Dependency-free baseline-sequential JPEG: standard Annex K quantization
# and Huffman tables, 8x8 orthonormal DCT via one numpy matmul pair,
# grayscale (1 component) and 4:4:4 YCbCr color (3 components, no chroma
# subsampling). Progressive (SOF2), chroma-subsampled, 12-bit, and
# arithmetic-coded streams raise at the marked boundary — those are where
# a real codec library (PIL/libjpeg) plugs in. Fixture images are tiny,
# so the pure-Python entropy coder is not a hot path; the Spark-side
# plumbing batches it behind Arrow ``mapInPandas`` like every codec here.

_JPEG_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K quantization tables, raster (row-major) order.
_JPEG_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_JPEG_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K Huffman specs: (BITS[1..16] code-length counts, HUFFVAL symbols).
_JPEG_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _jpeg_dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix C: forward = C @ B @ C.T,
    inverse = C.T @ B @ C."""
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    c = np.cos((2 * x + 1) * u * np.pi / 16)
    c[0] *= np.sqrt(0.5)
    return c * 0.5


def _jpeg_quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 keeps the Annex K table verbatim."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


def _jpeg_canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s
        return bytes(self.buf)


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(size category, raw value bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def encode_jpeg(arr: np.ndarray, quality: int = 75) -> bytes:
    """Baseline-sequential JPEG encoder: grayscale for 2-D / HxWx1
    input, 4:4:4 YCbCr (no chroma subsampling) for HxWx3 RGB.
    Standard Annex K quant + Huffman tables, edge-replicate padding to
    8x8 blocks. Flat 8x8 areas whose DC is a multiple of the DC quant
    step reconstruct bit-exactly — the property the oracle-gated
    fixtures rely on."""
    gray = arr.ndim == 2 or arr.shape[2] == 1
    if gray:
        planes = [arr.reshape(arr.shape[0], arr.shape[1]).astype(np.float64) - 128.0]
    else:
        ycc = _rgb_to_ycbcr(arr)
        planes = [ycc[..., i] - 128.0 for i in range(3)]
    h, w = planes[0].shape
    qt = [_jpeg_quality_scale(_JPEG_Q_LUMA, quality)]
    if not gray:
        qt.append(_jpeg_quality_scale(_JPEG_Q_CHROMA, quality))
    dct = _jpeg_dct_matrix()
    bh, bw = -(-h // 8), -(-w // 8)

    # Per-component quantized coefficient blocks, raster MCU order.
    comp_blocks: list[list[np.ndarray]] = []
    for ci, plane in enumerate(planes):
        padded = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
        q = qt[0 if ci == 0 else 1].reshape(8, 8)
        blocks = []
        for by in range(bh):
            for bx in range(bw):
                blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = dct @ blk @ dct.T
                blocks.append(np.rint(coef / q).astype(np.int64))
        comp_blocks.append(blocks)

    dc_tabs = [_jpeg_canonical_codes(*_JPEG_HUFF_DC_LUMA)]
    ac_tabs = [_jpeg_canonical_codes(*_JPEG_HUFF_AC_LUMA)]
    if not gray:
        dc_tabs.append(_jpeg_canonical_codes(*_JPEG_HUFF_DC_CHROMA))
        ac_tabs.append(_jpeg_canonical_codes(*_JPEG_HUFF_AC_CHROMA))

    wtr = _JpegBitWriter()
    prev_dc = [0] * len(planes)
    for mcu in range(bh * bw):
        for ci in range(len(planes)):
            ti = 0 if ci == 0 else 1
            zz = comp_blocks[ci][mcu].reshape(64)[_JPEG_ZIGZAG]
            diff = int(zz[0]) - prev_dc[ci]
            prev_dc[ci] = int(zz[0])
            size, bits = _jpeg_magnitude(diff)
            code, length = dc_tabs[ti][size]
            wtr.write(code, length)
            if size:
                wtr.write(bits, size)
            run = 0
            last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_tabs[ti][0xF0]  # ZRL
                    wtr.write(code, length)
                    run -= 16
                size, bits = _jpeg_magnitude(v)
                code, length = ac_tabs[ti][(run << 4) | size]
                wtr.write(code, length)
                wtr.write(bits, size)
                run = 0
            if last_nz < 63:
                code, length = ac_tabs[ti][0x00]  # EOB
                wtr.write(code, length)
    scan = wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, q in enumerate(qt):
        out += seg(0xFFDB, bytes([ti]) + bytes(int(x) for x in q[_JPEG_ZIGZAG]))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += seg(0xFFC0, sof)
    huffs = [(0x00, _JPEG_HUFF_DC_LUMA), (0x10, _JPEG_HUFF_AC_LUMA)]
    if not gray:
        huffs += [(0x01, _JPEG_HUFF_DC_CHROMA), (0x11, _JPEG_HUFF_AC_CHROMA)]
    for tclass_id, (bits_spec, vals) in huffs:
        out += seg(0xFFC4, bytes([tclass_id]) + bytes(bits_spec) + bytes(vals))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        ti = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (ti << 4) | ti])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.at_eoi = False

    def _fill(self) -> None:
        # Once EOI is reached the T.81 convention is to pad the tail of
        # the entropy stream with 1-bits; latch the state WITHOUT
        # advancing pos so every subsequent fill pads too (advancing
        # would re-read the 0xD9 as entropy data and then run off the
        # end of the buffer on truncated streams).
        if self.at_eoi:
            self.acc = (self.acc << 8) | 0xFF
            self.nbits += 8
            return
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            elif nxt == 0xD9:  # EOI reached mid-fill: pad with 1s
                self.at_eoi = True
                b = 0xFF
            else:
                raise NotImplementedError(
                    f"unexpected marker 0xFF{nxt:02X} in JPEG scan "
                    "(restart-interval streams need a real codec)"
                )
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _jpeg_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol lookup for the entropy decoder."""
    enc = _jpeg_canonical_codes(bits, vals)
    return {(length, code): sym for sym, (code, length) in enc.items()}


def _jpeg_extend(bits: int, size: int) -> int:
    """T.81 EXTEND: map raw magnitude bits back to a signed value."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline-sequential JPEG decoder (pure numpy + Python entropy
    loop): parses DQT/SOF0/DHT/SOS, Huffman-decodes the interleaved
    scan, dequantizes, inverse-DCTs, and converts YCbCr→RGB (4:4:4) or
    widens grayscale. Returns HxWx3 uint8 RGB. Progressive (SOF2),
    chroma-subsampled, 12-bit, arithmetic-coded, and restart-interval
    streams raise NotImplementedError — the documented boundary where
    PIL/libjpeg would plug in."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qtab)
    scan_comps: list[tuple[int, int, int]] = []  # (comp index, dc tab, ac tab)
    pos = 2
    scan_start = None
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        # any number of 0xFF fill bytes may pad before a marker
        # (T.81 B.1.1.2) — skip them instead of reading one as a
        # marker id with a garbage length
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2  # TEM / RSTn: standalone markers, no length field
            continue
        if marker == 0xD9:  # EOI before SOS → "missing SOF/SOS" below
            break
        if pos + 4 > len(data):
            break
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables need a real codec")
                zz = np.frombuffer(body, np.uint8, 64, i + 1).astype(np.int32)
                nat = np.zeros(64, np.int32)
                nat[_JPEG_ZIGZAG] = zz
                qtabs[tid] = nat.reshape(8, 8)
                i += 65
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline)
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("12-bit JPEG needs a real codec")
            for ci in range(nc):
                cid, samp, qid = body[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise NotImplementedError(
                        "chroma-subsampled JPEG needs a real codec (PIL)"
                    )
                comps.append((cid, samp, qid))
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "progressive/extended JPEG needs a real codec (PIL)"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tclass, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                htabs[(tclass, tid)] = _jpeg_decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            (interval,) = struct.unpack_from(">H", body, 0)
            if interval:
                raise NotImplementedError(
                    "restart-interval JPEG needs a real codec (PIL)"
                )
        elif marker == 0xDA:  # SOS
            ns = body[0]
            for si in range(ns):
                cid, tabs = body[1 + 2 * si], body[2 + 2 * si]
                idx = next(i for i, c in enumerate(comps) if c[0] == cid)
                scan_comps.append((idx, tabs >> 4, tabs & 0x0F))
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if w is None or scan_start is None:
        raise ValueError("JPEG missing SOF/SOS")

    dct = _jpeg_dct_matrix()
    bh, bw = -(-h // 8), -(-w // 8)
    planes = [np.zeros((bh * 8, bw * 8)) for _ in comps]
    rdr = _JpegBitReader(data, scan_start)

    def read_symbol(tab: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | rdr.read_bit()
            sym = tab.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    prev_dc = [0] * len(comps)
    for mcu in range(bh * bw):
        by, bx = divmod(mcu, bw)
        for idx, dct_id, act_id in scan_comps:
            zz = np.zeros(64, np.int64)
            size = read_symbol(htabs[(0, dct_id)])
            diff = _jpeg_extend(rdr.read_bits(size), size)
            prev_dc[idx] += diff
            zz[0] = prev_dc[idx]
            k = 1
            while k < 64:
                sym = read_symbol(htabs[(1, act_id)])
                if sym == 0x00:  # EOB
                    break
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run != 15:
                        raise ValueError("invalid JPEG AC symbol")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("JPEG AC coefficient overrun")
                zz[k] = _jpeg_extend(rdr.read_bits(size), size)
                k += 1
            nat = np.zeros(64, np.int64)
            nat[_JPEG_ZIGZAG] = zz
            coef = nat.reshape(8, 8) * qtabs[comps[idx][2]]
            blk = dct.T @ coef @ dct + 128.0
            planes[idx][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk

    planes = [p[:h, :w] for p in planes]
    if len(comps) == 1:
        gray = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[..., None], 3, axis=2)
    if len(comps) != 3:
        raise NotImplementedError("CMYK/other JPEG needs a real codec (PIL)")
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))


# ----------------------------------------------------------------- helpers

def decode_image(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes; raises at the codec call site for
    formats this container cannot decode (progressive/subsampled JPEG,
    GIF/TIFF/WebP need a real codec)."""
    if data[:2] == b"P6":
        return decode_ppm(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        return decode_jpeg(data)
    raise NotImplementedError(
        "only PPM(P6)/BMP/PNG/baseline-JPEG decode ships in-container; "
        "other formats need PIL"
    )


# ---------------------------------------------------------------- WAV (PCM)

def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Decode an uncompressed PCM WAV payload with the stdlib ``wave``
    module (no codec library needed): returns (sample_rate, samples)
    where samples is int16 shaped (n_frames, n_channels).

    8-bit PCM (unsigned) is widened to int16; 16-bit is native;
    other widths raise — the marked boundary where soundfile/ffmpeg
    would plug in.
    """
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        rate = w.getframerate()
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2")
    elif width == 1:
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) << 8
    else:
        raise NotImplementedError(
            f"{8 * width}-bit PCM needs a real audio library (soundfile/ffmpeg)"
        )
    return rate, samples.reshape(-1, n_ch)


def encode_wav(rate: int, samples: np.ndarray) -> bytes:
    """Encode int16 samples shaped (n_frames, n_channels) as a 16-bit
    PCM WAV payload (stdlib wave; exact inverse of decode_wav)."""
    import io
    import wave

    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.ascontiguousarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


# ------------------------------------------------------------ GIF (GIF89a)
#
# Full GIF-LZW both ways in pure Python: variable-width codes (LSB-first
# across 255-byte sub-blocks), dictionary growth to 4096 with CLEAR/reset,
# the KwKwK self-referential case, per-frame Graphic Control Extensions.
# This upgrades the "video" boundary from stub to REAL: an animated GIF
# is a genuine multi-frame container the pipeline can frame-sample from
# with no external library. Boundaries that still raise (documented):
# local color tables, interlacing, transparency-composited disposal.

def _lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-flavor LZW: emit CLEAR, then greedy longest-match codes,
    growing the code width when the next assignable code would overflow
    it, resetting the table at 4096 — the standard encoder loop."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    width = mcs + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = end + 1
    emit(clear, width)
    buf: tuple[int, ...] = ()
    for sym in map(int, indices):
        cand = buf + (sym,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        # decoder bumps its width as soon as ITS table reaches
        # 1<<width; its table trails ours by exactly one entry, so we
        # bump when next_code hits (1<<width) - 1 ... mirrored below
        # by the roundtrip property tests incl. double width growth.
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code > 4095:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = mcs + 1
        buf = (sym,)
    if buf:
        emit(table[buf], width)
    emit(end, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int) -> np.ndarray:
    """Inverse of ``_lzw_encode`` (and of any conformant GIF encoder):
    handles CLEAR/END, the KwKwK case (code == table size), and the
    width bump at table size 1<<width."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: int | None = None
    bitbuf = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return np.frombuffer(bytes(out), dtype=np.uint8)
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            out += table[code]
        else:
            if code < len(table):
                entry = table[code]
                table.append(table[prev] + entry[:1])
            elif code == len(table):  # KwKwK
                entry = table[prev] + table[prev][:1]
                table.append(entry)
            else:
                raise ValueError(f"corrupt LZW stream: code {code}")
            out += entry
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = code
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _gif_subblocks(payload: bytes) -> bytes:
    """Wrap a byte stream into GIF's ≤255-byte length-prefixed
    sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(
    frames: np.ndarray, palette: np.ndarray, delay_cs: int = 10
) -> bytes:
    """Animated GIF89a encoder: ``frames`` is (n, h, w, 3) uint8 whose
    pixel colors must all appear in ``palette`` ((k, 3) uint8, k ≤ 256);
    every frame is full-logical-screen with a Graphic Control Extension
    carrying ``delay_cs`` (centiseconds)."""
    frames = np.asarray(frames, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    n, h, w, _ = frames.shape
    k = len(palette)
    # GCT size must be a power of two ≥ 2; mcs ≥ 2 per spec
    gct_bits = max(1, int(np.ceil(np.log2(max(k, 2)))))
    gct_n = 1 << gct_bits
    mcs = max(2, gct_bits)
    lut = {tuple(c): i for i, c in enumerate(palette.tolist())}
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (gct_bits - 1))  # GCT present, 2^gct_bits entries
    out += b"\x00\x00"  # bg index, aspect
    out += palette.tobytes() + b"\x00" * (3 * (gct_n - k))
    for f in range(n):
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        flat = frames[f].reshape(-1, 3)
        try:
            idx = np.array([lut[tuple(p)] for p in flat.tolist()], dtype=np.uint8)
        except KeyError as exc:  # pragma: no cover - caller contract
            raise ValueError(f"frame pixel {exc} not in palette") from exc
        out.append(mcs)
        out += _gif_subblocks(_lzw_encode(idx, mcs))
    out.append(0x3B)
    return bytes(out)


def decode_gif(data: bytes) -> np.ndarray:
    """Decode an animated GIF89a into (n, h, w, 3) uint8 RGB frames.
    Supported: global color table, full-frame non-interlaced images,
    any conformant LZW stream (variable width, 4096-reset, KwKwK).
    Raises at the documented codec boundary for local color tables,
    interlacing, and partial-frame composition."""
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", data[6:10])
    flags = data[10]
    pos = 13
    if not flags & 0x80:
        raise ValueError("GIF without a global color table: unsupported")
    gct_n = 2 << (flags & 0x07)
    palette = np.frombuffer(data[pos : pos + 3 * gct_n], dtype=np.uint8)
    palette = palette.reshape(-1, 3)
    pos += 3 * gct_n
    frames = []
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: skip sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        left, top, fw, fh = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
        iflags = data[pos + 9]
        pos += 10
        if iflags & 0x80:
            raise ValueError("GIF local color tables: unsupported")
        if iflags & 0x40:
            raise ValueError("interlaced GIF: unsupported")
        if (left, top, fw, fh) != (0, 0, w, h):
            raise ValueError("partial-frame GIF composition: unsupported")
        mcs = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos] != 0:
            ln = data[pos]
            lzw += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(lzw), mcs)
        if idx.size != w * h:
            raise ValueError(
                f"GIF frame decoded to {idx.size} pixels, expected {w * h}"
            )
        frames.append(palette[idx.reshape(h, w)])
    return np.stack(frames)


# ---------------------------------------------------------------------------
# MP3 frame-header parsing (r11, VERDICT r10 ask #7)
#
# Stream STRUCTURE without audio decode: duration / bitrate / channel
# stats need only the 4-byte frame headers (MPEG-1/2/2.5 audio spec,
# ISO/IEC 11172-3 + 13818-3 header layout — public knowledge), so this
# shrinks the real-codec boundary from "any MP3 raises" to "only full
# PCM decode raises". Huffman-coded audio payload decode is the
# remaining documented boundary where mad/ffmpeg would plug in.
# ---------------------------------------------------------------------------

# kbps tables indexed [version_group][layer][bitrate_index 1..14];
# version_group 0 = MPEG-1, 1 = MPEG-2/2.5 (they share tables)
_MP3_KBPS = {
    (0, 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (0, 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (0, 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (1, 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (1, 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (1, 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
# sample rates indexed [version][rate_index 0..2]
_MP3_RATES = {
    "1": [44100, 48000, 32000],
    "2": [22050, 24000, 16000],
    "2.5": [11025, 12000, 8000],
}


def _mp3_samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "1" else 576


def parse_mp3_frames(data: bytes) -> dict:
    """Parse an MP3 stream's frame headers (NO audio decode): skips a
    leading ID3v2 tag (synchsafe size) and a trailing ID3v1 'TAG'
    block, then walks fixed-point frame to frame via the exact frame-
    length formula (samples_per_frame/8 · bitrate / sample_rate +
    padding; ×4-slot arithmetic for Layer I). Returns::

        {version, layer, sample_rate, channels, n_frames,
         duration_sec, kbps: [per-frame bitrate...], has_id3v2}

    Strictness contract (same fail-loud style as decode_gif): lost
    sync, a reserved version/layer/rate index, or a mid-stream
    version/layer/rate change raises ValueError naming the byte
    offset; free-format frames (bitrate index 0) raise
    NotImplementedError — the documented boundary (frame length is
    not derivable from the header there)."""
    pos = 0
    has_id3 = False
    if data[:3] == b"ID3" and len(data) >= 10:
        size = (
            ((data[6] & 0x7F) << 21)
            | ((data[7] & 0x7F) << 14)
            | ((data[8] & 0x7F) << 7)
            | (data[9] & 0x7F)
        )
        pos = 10 + size
        # ID3v2.4 §3.1: flags bit 0x10 = footer present; the footer is
        # 10 bytes ("3DI" + version + flags + size) appended AFTER the
        # tag, and the synchsafe size field counts NEITHER header nor
        # footer — so a spec-valid footered tag needs 10 more bytes
        # skipped, else the walk reads the footer as a lost frame sync
        # (r11 ADVICE #4).
        if data[5] & 0x10:
            pos += 10
        has_id3 = True
    version = layer = rate = channels = None
    kbps: list[int] = []
    dur = 0.0
    while pos < len(data):
        if data[pos : pos + 3] == b"TAG" and len(data) - pos == 128:
            break  # trailing ID3v1
        if pos + 4 > len(data):
            raise ValueError(f"MP3: truncated frame header at offset {pos}")
        b0, b1, b2, b3 = data[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"MP3: lost frame sync at offset {pos}")
        ver_bits = (b1 >> 3) & 0x3
        ver = {0: "2.5", 2: "2", 3: "1"}.get(ver_bits)
        if ver is None:
            raise ValueError(f"MP3: reserved version id at offset {pos}")
        lay = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 0x3)
        if lay is None:
            raise ValueError(f"MP3: reserved layer at offset {pos}")
        br_idx = (b2 >> 4) & 0xF
        if br_idx == 0:
            raise NotImplementedError(
                f"MP3: free-format frame at offset {pos} needs a real "
                "codec (frame length not in the header)"
            )
        if br_idx == 15:
            raise ValueError(f"MP3: bad bitrate index at offset {pos}")
        rate_idx = (b2 >> 2) & 0x3
        if rate_idx == 3:
            raise ValueError(f"MP3: reserved sample-rate index at offset {pos}")
        padding = (b2 >> 1) & 0x1
        mode = (b3 >> 6) & 0x3
        ch = 1 if mode == 3 else 2
        f_rate = _MP3_RATES[ver][rate_idx]
        f_kbps = _MP3_KBPS[(0 if ver == "1" else 1, lay)][br_idx - 1]
        if version is None:
            version, layer, rate, channels = ver, lay, f_rate, ch
        elif (ver, lay, f_rate) != (version, layer, rate):
            raise ValueError(
                f"MP3: mid-stream version/layer/rate change at offset {pos}"
            )
        spf = _mp3_samples_per_frame(ver, lay)
        if lay == 1:
            flen = (12000 * f_kbps // f_rate + padding) * 4
        else:
            flen = (spf // 8) * 1000 * f_kbps // f_rate + padding
        if flen < 4:
            raise ValueError(f"MP3: degenerate frame length at offset {pos}")
        kbps.append(f_kbps)
        dur += spf / f_rate
        pos += flen
    if not kbps:
        raise ValueError("MP3: no frames found")
    return {
        "version": version,
        "layer": layer,
        "sample_rate": rate,
        "channels": channels,
        "n_frames": len(kbps),
        "duration_sec": dur,
        "samples_per_frame": _mp3_samples_per_frame(version, layer),
        "kbps": kbps,
        "has_id3v2": has_id3,
    }


def encode_mp3_frame_stream(
    bitrate_indexes: list[int],
    rate_idx: int = 0,
    mono: bool = False,
    id3_size: int | None = None,
    id3v1: bool = False,
    id3_footer: bool = False,
) -> bytes:
    """Synthesize a HEADER-TRUE MPEG-1 Layer III stream: every frame
    header is spec-exact (sync, version/layer bits, bitrate and rate
    indexes, channel mode) and every frame body is zero-filled to the
    exact spec frame length — a real player would see silence-length
    garbage, but any structure parser must read it identically to a
    real file. This is the test/oracle fixture generator for
    parse_mp3_frames (the GIF/PNG closed-form-payload pattern:
    stats are arithmetically re-derivable from the arguments)."""
    out = bytearray()
    if id3_size is not None:
        size_ss = bytes(
            [
                (id3_size >> 21) & 0x7F,
                (id3_size >> 14) & 0x7F,
                (id3_size >> 7) & 0x7F,
                id3_size & 0x7F,
            ]
        )
        # ID3v2.4 §3.1: flags bit 0x10 advertises a 10-byte footer
        # appended after the tag body; the synchsafe size counts
        # neither header nor footer.
        flags = 0x10 if id3_footer else 0x00
        out += b"ID3\x04\x00" + bytes([flags]) + size_ss
        out += bytes(id3_size)
        if id3_footer:
            # Footer: "3DI" + version + flags + the same synchsafe size.
            out += b"3DI\x04\x00" + bytes([flags]) + size_ss
    elif id3_footer:
        raise ValueError("id3_footer requires id3_size")
    rate = _MP3_RATES["1"][rate_idx]
    for idx in bitrate_indexes:
        if not 1 <= idx <= 14:
            raise ValueError(f"bitrate index {idx} out of range")
        kbps = _MP3_KBPS[(0, 3)][idx - 1]
        flen = 144000 * kbps // rate  # padding bit 0
        hdr = bytes(
            [
                0xFF,
                0xE0 | (3 << 3) | (1 << 1) | 1,  # V1, L3, no CRC
                (idx << 4) | (rate_idx << 2),
                (3 << 6) if mono else 0x00,
            ]
        )
        out += hdr + bytes(flen - 4)
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)
