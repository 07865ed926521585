"""Multimodal column handling: images/audio/video as opaque binary columns
with typed metadata, processed in Arrow batches via mapInPandas.

Decode status (container has no PIL/opencv/ffmpeg — decoders below are
pure numpy/struct/zlib implementations of the container formats
themselves):
- images: REAL decode for PPM (P6), 24-bit BMP, PNG (stdlib zlib
  inflate + per-scanline unfilter in numpy; 8/16-bit
  gray/RGB/palette/alpha, non-interlaced AND Adam7-interlaced), GIF
  (LZW, 87a/89a, global/local palettes, interlacing, first frame), and
  JPEG — both baseline (SOF0/SOF1) and progressive (SOF2: spectral
  selection + successive approximation), canonical Huffman entropy
  decode, dequant, batched orthonormal numpy IDCT, chroma upsampling,
  JFIF YCbCr→RGB, restart markers — plus a real nearest-neighbor
  resize + re-encode. Arithmetic-coded JPEG / sub-byte-depth PNG fall
  back to a clearly-marked deterministic stub.
- audio: REAL decode for WAV/RIFF PCM16/PCM8/float32 (rate, channels,
  duration, RMS in a format-independent PCM16 scale).
- video: REAL parse + frame decode for the two uncompressed stream
  formats with pure-python paths — YUV4MPEG2/.y4m (C420*/422/444/mono
  planar YCbCr; the Y' plane is the luma) and concatenated-P6 MJPEG-
  style streams. Compressed containers (MP4/MKV) remain an honest stub
  (no ffmpeg); the frame-sampling plumbing (stride selection, per-batch
  row explosion) is shared and real.

Scale notes:
- mapInPandas streams Arrow record batches; `spark.sql.execution.arrow.
  maxRecordsPerBatch` bounds peak memory per batch when payloads are MBs.
- Binary payloads should arrive via `binaryFile` scans or pointer columns
  (path + range) — never collect; features travel, blobs stay put.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("decoder", T.StringType(), True),  # ppm|bmp|png|stub
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


# ---------------------------------------------------------------- decoders
def _ppm_header(content: bytes, start: int) -> tuple[int, int, int, int] | None:
    """Parse a P6 header at `start` → (width, height, maxval, raster_offset),
    or None when malformed."""
    if content[start : start + 2] != b"P6":
        return None
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    fields: list[int] = []
    i = start + 2
    while len(fields) < 3 and i < len(content):
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":  # comment to end-of-line
            while i < len(content) and content[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        if j == i or not content[i:j].isdigit():
            return None
        fields.append(int(content[i:j]))
        i = j
    if len(fields) < 3:
        return None
    i += 1  # the single whitespace after maxval
    w, h, maxval = fields
    return (w, h, maxval, i)


def decode_ppm(content: bytes) -> np.ndarray | None:
    """P6 (binary) PPM → HxWx3 uint8 array, or None if not P6."""
    if not content or not content.startswith(b"P6"):
        return None
    parsed = _ppm_header(content, 0)
    if parsed is None:
        return None
    w, h, maxval, i = parsed
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    if i + w * h * 3 > len(content):  # truncated raster
        return None
    raster = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3)


def split_ppm_stream(content: bytes) -> list[bytes] | None:
    """Concatenated-P6 'video' stream (an MJPEG-shaped container with a
    pure-python parse path) → list of single-frame P6 payloads.

    Each frame's extent comes from its own header (raster length =
    w*h*3), so the splitter walks the stream without any index — the
    same parse a real demuxer does per GOP."""
    if not content or not content.startswith(b"P6"):
        return None
    frames: list[bytes] = []
    i = 0
    while i < len(content):
        parsed = _ppm_header(content, i)
        if parsed is None:
            return None
        w, h, _maxval, data_start = parsed
        end = data_start + w * h * 3
        if end > len(content):
            return None
        frames.append(content[i:end])
        i = end
    return frames


def parse_y4m(content: bytes) -> tuple[int, int, str, list[bytes]] | None:
    """YUV4MPEG2 (.y4m) — the standard UNCOMPRESSED video container
    (mjpegtools/ffmpeg interchange format): stream header
    ``YUV4MPEG2 W<w> H<h> F<n>:<d> ... C<fmt>\\n`` followed by
    ``FRAME[ params]\\n`` + raw planar YCbCr per frame.

    Returns (width, height, chroma_format, [frame plane bytes]) or None
    if not Y4M / malformed. Supports C420* (jpeg/mpeg2/paldv centering
    variants — plane layout is identical), C422, C444 and Cmono."""
    if not content or not content.startswith(b"YUV4MPEG2"):
        return None
    nl = content.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    cfmt = "420jpeg"  # the spec default when C is absent
    for tag in content[9:nl].split(b" "):
        if not tag:
            continue
        key, val = tag[:1], tag[1:]
        try:
            if key == b"W":
                w = int(val)
            elif key == b"H":
                h = int(val)
            elif key == b"C":
                cfmt = val.decode("ascii")
        except (ValueError, UnicodeDecodeError):
            return None
    if not w or not h or w <= 0 or h <= 0:
        return None
    if cfmt.startswith("420"):
        if w % 2 or h % 2:
            return None
        frame_size = w * h + 2 * ((w // 2) * (h // 2))
    elif cfmt.startswith("422"):
        if w % 2:
            return None
        frame_size = w * h + 2 * ((w // 2) * h)
    elif cfmt.startswith("444"):
        frame_size = 3 * w * h
    elif cfmt == "mono":
        frame_size = w * h
    else:
        return None
    frames: list[bytes] = []
    i = nl + 1
    while i < len(content):
        if content[i : i + 5] != b"FRAME":
            return None
        fnl = content.find(b"\n", i)
        if fnl < 0:
            return None
        start, end = fnl + 1, fnl + 1 + frame_size
        if end > len(content):
            return None
        frames.append(content[start:end])
        i = end
    return (w, h, cfmt, frames)


def y4m_frame_luma(w: int, h: int, frame: bytes) -> float:
    """Mean luma of one Y4M frame: the Y' plane IS the luma signal, so
    this is a plain mean over the first w*h bytes — no matrix."""
    y = np.frombuffer(frame, dtype=np.uint8, count=w * h)
    return float(y.astype(np.float64).mean())


def encode_y4m(
    y_frames: list[np.ndarray], cfmt: str = "420jpeg"
) -> bytes:
    """Synthesize a Y4M stream from HxW uint8 luma planes (chroma filled
    neutral 128) — the test/registry fixture encoder."""
    h, w = y_frames[0].shape
    if cfmt.startswith("420"):
        chroma = b"\x80" * (2 * ((w // 2) * (h // 2)))
    elif cfmt.startswith("422"):
        chroma = b"\x80" * (2 * ((w // 2) * h))
    elif cfmt.startswith("444"):
        chroma = b"\x80" * (2 * w * h)
    else:  # mono
        chroma = b""
    head = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C%s\n" % (w, h, cfmt.encode())
    return head + b"".join(
        b"FRAME\n" + f.astype(np.uint8).tobytes() + chroma for f in y_frames
    )


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def decode_bmp(content: bytes) -> np.ndarray | None:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) → HxWx3 uint8 RGB."""
    if not content or not content.startswith(b"BM") or len(content) < 54:
        return None
    data_offset = struct.unpack_from("<I", content, 10)[0]
    header_size = struct.unpack_from("<I", content, 14)[0]
    if header_size < 40:
        return None
    w, h = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0 or planes != 1:
        return None
    bottom_up = h > 0
    h = abs(h)
    row_stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    if w <= 0 or h == 0 or data_offset + row_stride * h > len(content):
        return None  # nonsense dims or truncated raster
    rows = np.frombuffer(
        content, dtype=np.uint8, count=row_stride * h, offset=data_offset
    ).reshape(h, row_stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR → RGB


def encode_bmp(pixels: np.ndarray) -> bytes:
    """HxWx3 RGB → 24-bit bottom-up BMP."""
    h, w, _ = pixels.shape
    row_stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, row_stride), dtype=np.uint8)
    raster[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # RGB→BGR
    body = raster.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + body


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(
    raw: np.ndarray, height: int, stride: int, bpp: int
) -> np.ndarray:
    """Undo per-scanline PNG filters (types 0-4) → (height, stride) bytes.

    Up (2) vectorizes across the row; Sub (1) is a per-lane cumulative sum
    mod 256; Average (3) and Paeth (4) have a true left-dependency so they
    run a per-pixel loop over the row (vectorized across the bpp lanes)."""
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = int(raw[pos])
        row = raw[pos + 1 : pos + 1 + stride].astype(np.int64)
        pos += 1 + stride
        prior = out[y - 1].astype(np.int64) if y else np.zeros(stride, np.int64)
        if ftype == 0:
            recon = row
        elif ftype == 1:  # Sub: cumsum per lane mod 256
            lanes = row.reshape(-1, bpp)
            recon = np.cumsum(lanes, axis=0).reshape(-1) % 256
        elif ftype == 2:  # Up
            recon = (row + prior) % 256
        elif ftype in (3, 4):
            recon = np.zeros(stride, np.int64)
            for x in range(0, stride, bpp):
                left = recon[x - bpp : x] if x else np.zeros(bpp, np.int64)
                up = prior[x : x + bpp]
                if ftype == 3:  # Average
                    pred = (left + up) // 2
                else:  # Paeth
                    ul = prior[x - bpp : x] if x else np.zeros(bpp, np.int64)
                    p = left + up - ul
                    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                    )
                recon[x : x + bpp] = (row[x : x + bpp] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = recon.astype(np.uint8)
    return out


# Adam7 pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def decode_png(content: bytes) -> np.ndarray | None:
    """REAL PNG decode (stdlib zlib + numpy unfilter) → HxWx3 uint8 RGB.

    Supports 8- and 16-bit depth (16-bit reduced to high byte, the
    standard 8-bit downsample), color types 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha), 6 (RGBA), both non-interlaced and
    Adam7-interlaced layouts. Alpha is dropped (features read color, not
    compositing); sub-byte depths (1/2/4-bit) → None (stub path)."""
    if not content or not content.startswith(_PNG_MAGIC):
        return None
    i = 8
    width = height = None
    bit_depth = color_type = interlace = None
    palette: np.ndarray | None = None
    idat = bytearray()
    try:
        while i + 8 <= len(content):
            (length,) = struct.unpack_from(">I", content, i)
            ctype = content[i + 4 : i + 8]
            data = content[i + 8 : i + 8 + length]
            if len(data) < length:
                return None  # truncated
            if ctype == b"IHDR":
                width, height, bit_depth, color_type, _comp, _filt, interlace = (
                    struct.unpack(">IIBBBBB", data)
                )
            elif ctype == b"PLTE":
                palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            i += 12 + length  # length + type + data + crc
        if not width or not height or bit_depth not in (8, 16) or interlace not in (0, 1):
            return None
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
        if channels is None or (bit_depth == 16 and color_type == 3):
            return None  # 16-bit palette indices are not legal PNG
        sample_bytes = bit_depth // 8
        bpp = channels * sample_bytes  # filter unit is the byte-pixel
        raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)

        def reduce16(rows: np.ndarray, w: int) -> np.ndarray:
            """(h, w*bpp) filtered bytes → (h, w, channels) uint8 samples."""
            h = rows.shape[0]
            if sample_bytes == 1:
                return rows.reshape(h, w, channels)
            # 16-bit big-endian: high byte IS the 8-bit reduction
            return rows.reshape(h, w, channels, 2)[:, :, :, 0]

        if interlace == 0:
            stride = width * bpp
            if len(raw) != height * (stride + 1):
                return None
            px = reduce16(_png_unfilter(raw, height, stride, bpp), width)
        else:  # Adam7: 7 independently-filtered sub-images, scattered
            px = np.zeros((height, width, channels), np.uint8)
            pos = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (width - x0 + dx - 1) // dx
                ph = (height - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                stride = pw * bpp
                need = ph * (stride + 1)
                if pos + need > len(raw):
                    return None
                sub = reduce16(
                    _png_unfilter(raw[pos : pos + need], ph, stride, bpp), pw
                )
                pos += need
                px[y0::dy, x0::dx] = sub
            if pos != len(raw):
                return None
    except Exception:
        return None
    if color_type == 0:
        return np.repeat(px, 3, axis=2)
    if color_type == 2:
        return px
    if color_type == 3:
        return palette[px[:, :, 0]] if palette is not None else None
    if color_type == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]  # RGBA → RGB


def encode_png(pixels: np.ndarray) -> bytes:
    """HxWx3 RGB → minimal valid PNG (8-bit truecolor, filter 0)."""
    h, w, _ = pixels.shape
    raw = b"".join(
        b"\x00" + pixels[y].astype(np.uint8).tobytes() for y in range(h)
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# ------------------------------------------------------------- JPEG decode
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# Orthonormal 8-point DCT-II basis: spatial = A.T @ coeffs @ A
_IDCT_A = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


class _JpegMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


class _JpegBits:
    """MSB-first bit reader over entropy-coded bytes with 0xFF00
    unstuffing; a bare marker raises _JpegMarker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        p = self.pos
        if p >= len(d):
            raise _JpegMarker(0xD9)  # treat EOF as EOI
        b = d[p]
        if b == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else 0xD9
            if nxt != 0x00:
                raise _JpegMarker(nxt)
            self.pos = p + 2
        else:
            self.pos = p + 1
        self.buf = (self.buf << 8) | b
        self.nbits += 8

    def read_bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        val = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return val

    def align_restart(self) -> None:
        """Drop partial bits and consume an RSTn marker."""
        self.buf = 0
        self.nbits = 0
        d = self.data
        p = self.pos
        while p + 1 < len(d) and not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        self.pos = p + 2


def _build_huffman(bits: list[int], symbols: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman table → {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(bits: _JpegBits, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bits.read_bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG F.2.2.1 EXTEND: map t-bit magnitude to signed value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


class _JpegDone(Exception):
    """EOI reached mid-scan: stop decoding, keep accumulated coefficients."""


def _jpeg_decode_block(
    bits: _JpegBits,
    coefblk: np.ndarray,
    dc_tab,
    ac_tab,
    ss: int,
    se: int,
    ah: int,
    al: int,
    pred: list[int],
    ci: int,
    eobrun: list[int],
) -> None:
    """Decode one block's contribution for the current scan into `coefblk`
    (64 coeffs, zigzag order). Handles sequential full-band scans
    (ss=0, se=63, ah=al=0) and every progressive scan kind: DC first,
    DC refine, AC first (EOB runs), AC refine (correction bits) — the
    sequential AC case is the degenerate eobrun=1 progressive case."""
    if ss == 0:
        if ah == 0:  # DC first (or sequential)
            t = _huff_decode(bits, dc_tab)
            diff = _extend(bits.read_bits(t), t) if t else 0
            pred[ci] += diff
            coefblk[0] = pred[ci] << al
        else:  # DC refinement: one bit
            if bits.read_bits(1):
                coefblk[0] |= 1 << al
        if se == 0:
            return
    k = max(ss, 1)
    if ah == 0:  # AC first scan (sequential when al == 0)
        if eobrun[0] > 0:
            eobrun[0] -= 1
            return
        while k <= se:
            rs = _huff_decode(bits, ac_tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun[0] = (1 << r) - 1
                if r:
                    eobrun[0] += bits.read_bits(r)
                break  # EOB for this block; run covers the next eobrun blocks
            k += r
            if k > se:
                break  # corrupt run; tolerate
            coefblk[k] = _extend(bits.read_bits(s), s) << al
            k += 1
        return
    # AC refinement scan (G.1.2.3)
    p1, m1 = 1 << al, -1 << al

    def correct(idx: int) -> None:
        if bits.read_bits(1) and not (coefblk[idx] & p1):
            coefblk[idx] += p1 if coefblk[idx] >= 0 else m1

    if eobrun[0] == 0:
        while k <= se:
            rs = _huff_decode(bits, ac_tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    eobrun[0] = 1 << r
                    if r:
                        eobrun[0] += bits.read_bits(r)
                    break  # includes this block (consumed below)
                val = 0  # ZRL: pass 16 zero-history coefficients
            else:  # s == 1: newly significant coefficient
                val = p1 if bits.read_bits(1) else m1
            while k <= se:
                if coefblk[k]:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k <= se and val:
                coefblk[k] = val
            k += 1
    if eobrun[0] > 0:  # inside an EOB run: correction bits only
        while k <= se:
            if coefblk[k]:
                correct(k)
            k += 1
        eobrun[0] -= 1


def _jpeg_decode_scan(
    content: bytes,
    pos: int,
    scan_comps,
    comp_info,
    coef,
    huff,
    frame_dims,
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> int:
    """Decode one entropy-coded scan; returns the byte offset of the next
    marker. scan_comps: [(cid, dc_id, ac_id)]. Interleaved when the scan
    has >1 component (MCU order), else raster order over the single
    component's own block grid."""
    h, w, hmax, vmax, mcus_x, mcus_y = frame_dims
    bits = _JpegBits(content, pos)
    pred = [0] * len(scan_comps)
    eobrun = [0]
    try:
        if len(scan_comps) > 1:  # interleaved MCU order
            mcu_count = 0
            for _my in range(mcus_y):
                for _mx in range(mcus_x):
                    if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                        bits.align_restart()
                        pred = [0] * len(scan_comps)
                        eobrun[0] = 0
                    for ci, (cid, dc_id, ac_id) in enumerate(scan_comps):
                        hs, vs, _tq = comp_info[cid]
                        for by in range(vs):
                            for bx in range(hs):
                                _jpeg_decode_block(
                                    bits,
                                    coef[cid][_my * vs + by, _mx * hs + bx],
                                    huff.get((0, dc_id)),
                                    huff.get((1, ac_id)),
                                    ss, se, ah, al, pred, ci, eobrun,
                                )
                    mcu_count += 1
        else:  # non-interleaved: the component's own block grid
            cid, dc_id, ac_id = scan_comps[0]
            hs, vs, _tq = comp_info[cid]
            comp_w = -(-w * hs // hmax)  # the component's true sample dims,
            comp_h = -(-h * vs // vmax)  # NOT the MCU-padded grid
            bw = -(-comp_w // 8)
            bh = -(-comp_h // 8)
            blk = 0
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and blk and blk % restart_interval == 0:
                        bits.align_restart()
                        pred = [0]
                        eobrun[0] = 0
                    _jpeg_decode_block(
                        bits,
                        coef[cid][by, bx],
                        huff.get((0, dc_id)),
                        huff.get((1, ac_id)),
                        ss, se, ah, al, pred, 0, eobrun,
                    )
                    blk += 1
    except _JpegMarker as m:
        if m.marker == 0xD9:
            raise _JpegDone() from None
        raise
    # skip any padding bits, then find the next marker
    p = bits.pos
    while p + 1 < len(content) and not (
        content[p] == 0xFF and content[p + 1] != 0x00
    ):
        p += 1
    return p


def decode_jpeg(content: bytes) -> np.ndarray | None:
    """REAL JPEG decode (pure python/numpy) → HxWx3 uint8 RGB.

    Supports Huffman-coded SOF0/SOF1 (baseline/extended sequential) AND
    SOF2 (progressive: spectral selection + successive approximation,
    DC/AC first and refinement scans, EOB runs, per-scan DHT updates) —
    i.e. the formats real-world encoders emit. JFIF/EXIF wrappers, 8/16
    bit quant tables, grayscale and YCbCr with any integer sampling grid
    (4:4:4, 4:2:0, 4:2:2, ...), restart markers. Arithmetic coding and
    lossless/hierarchical modes → None (caller's stub path).

    Entropy decoding accumulates quantized coefficients per component;
    the epilogue dequantizes and applies a batched orthonormal IDCT
    (one numpy matmul over all blocks), replicates chroma, and converts
    YCbCr→RGB per JFIF."""
    if not content or not content.startswith(b"\xff\xd8"):
        return None
    try:
        qt: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
        frame = None  # (h, w, comps) comps: (cid, hs, vs, tq)
        coef: dict[int, np.ndarray] = {}
        comp_info: dict[int, tuple[int, int, int]] = {}
        frame_dims = None
        restart_interval = 0
        saw_scan = False
        i = 2
        while i + 2 <= len(content):
            if content[i] != 0xFF:
                return None
            marker = content[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            i += 2
            if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
                continue
            if marker == 0xD9:  # EOI
                break
            if i + 2 > len(content):
                break
            (seg_len,) = struct.unpack_from(">H", content, i)
            seg = content[i + 2 : i + seg_len]
            if marker == 0xDB:  # DQT
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 15
                    j += 1
                    if pq:
                        vals = np.frombuffer(seg[j : j + 128], ">u2").astype(np.int64)
                        j += 128
                    else:
                        vals = np.frombuffer(seg[j : j + 64], np.uint8).astype(np.int64)
                        j += 64
                    qt[tq] = vals
            elif marker == 0xC4:  # DHT (progressive streams redefine between scans)
                j = 0
                while j < len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 15
                    bits_counts = list(seg[j + 1 : j + 17])
                    n = sum(bits_counts)
                    symbols = seg[j + 17 : j + 17 + n]
                    huff[(tc, th)] = _build_huffman(bits_counts, symbols)
                    j += 17 + n
            elif marker in (0xC0, 0xC1, 0xC2):  # Huffman sequential / progressive
                precision = seg[0]
                if precision != 8:
                    return None
                h, w = struct.unpack_from(">HH", seg, 1)
                ncomp = seg[5]
                comps = []
                for c in range(ncomp):
                    cid, hv, tq_id = seg[6 + 3 * c : 9 + 3 * c]
                    comps.append((cid, hv >> 4, hv & 15, tq_id))
                frame = (h, w, comps)
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                frame_dims = (h, w, hmax, vmax, mcus_x, mcus_y)
                comp_info = {cid: (hs, vs, tq_id) for cid, hs, vs, tq_id in comps}
                coef = {
                    cid: np.zeros((mcus_y * vs, mcus_x * hs, 64), np.int32)
                    for cid, hs, vs, _tq in comps
                }
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless / arithmetic / hierarchical
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack_from(">H", seg, 0)
            elif marker == 0xDA:  # SOS: decode the scan, resume at next marker
                if frame is None:
                    return None
                ns = seg[0]
                scan_comps = []
                for c in range(ns):
                    cid, tables = seg[1 + 2 * c : 3 + 2 * c]
                    scan_comps.append((cid, tables >> 4, tables & 15))
                ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
                ah, al = a >> 4, a & 15
                saw_scan = True
                try:
                    i = _jpeg_decode_scan(
                        content, i + seg_len, scan_comps, comp_info, coef,
                        huff, frame_dims, restart_interval, ss, se, ah, al,
                    )
                except _JpegDone:
                    break  # premature EOI: keep what we have
                continue
            i += seg_len
        if frame is None or not saw_scan:
            return None

        # epilogue: dequantize + batched IDCT + assemble planes
        h, w, comps = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        full = []
        for cid, hs, vs, tq_id in comps:
            blocks = coef[cid]
            bh, bw, _ = blocks.shape
            flat = blocks.reshape(-1, 64).astype(np.float64) * qt[tq_id][None, :]
            dez = np.zeros_like(flat)
            dez[:, _ZIGZAG] = flat
            spatial = (_IDCT_A.T @ dez.reshape(-1, 8, 8)) @ _IDCT_A + 128.0
            plane = (
                spatial.reshape(bh, bw, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(bh * 8, bw * 8)
            )
            plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
            full.append(plane[:h, :w])
        if len(full) == 1:
            rgb = np.repeat(full[0][:, :, None], 3, axis=2)
        else:
            y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
            rgb = np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb,
                ],
                axis=2,
            )
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    except Exception:
        return None


# -------------------------------------------------------------- GIF decode
def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytearray | None:
    """GIF variable-width LZW → index stream."""
    clear_code = 1 << min_code_size
    end_code = clear_code + 1
    out = bytearray()
    # bit reader: LSB-first within bytes
    bitpos = 0
    nbits = len(data) * 8

    def read_code(width: int) -> int | None:
        nonlocal bitpos
        if bitpos + width > nbits:
            return None
        v = 0
        for b in range(width):
            byte = data[(bitpos + b) >> 3]
            v |= ((byte >> ((bitpos + b) & 7)) & 1) << b
        bitpos += width
        return v

    table: list[bytes] = []
    width = 0
    prev: bytes | None = None

    def reset_table() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear_code)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset_table()
    while True:
        code = read_code(width)
        if code is None or code == end_code:
            break
        if code == clear_code:
            reset_table()
            continue
        if code < len(table):
            entry = table[code]
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            return None  # corrupt stream
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return out


class _GifLzwWriter:
    """LSB-first bit packer for GIF LZW codes."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.n
        self.n += width
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Textbook GIF LZW encoder (dictionary of index strings)."""
    clear = 1 << min_code_size
    end = clear + 1
    writer = _GifLzwWriter()
    width = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    writer.write(clear, width)
    cur = b""
    for byte in indices:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        writer.write(table[cur], width)
        if next_code < 4096:
            table[nxt] = next_code
            # widen AFTER assigning: decoder widens when table hits 2^width
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        cur = bytes([byte])
    if cur:
        writer.write(table[cur], width)
    writer.write(end, width)
    return writer.flush()


def encode_gif(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """Indexed (H, W) image + (N, 3) palette → single-frame GIF89a."""
    h, w = idx.shape
    depth = max(1, (len(palette) - 1).bit_length())
    pal = np.zeros((1 << depth, 3), np.uint8)
    pal[: len(palette)] = palette
    min_code = max(2, depth)
    lzw = _gif_lzw_encode(idx.astype(np.uint8).tobytes(), min_code)
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([min_code])
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


_GIF_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def decode_gif(content: bytes) -> np.ndarray | None:
    """REAL GIF decode (87a/89a) → HxWx3 uint8 RGB of the FIRST frame.

    LZW with variable code width, global and local color tables,
    interlaced and sequential row order. Later frames/animation are a
    sampling concern (see video_frame_features for the stream shape)."""
    if not content or content[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
        i = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = np.frombuffer(content, np.uint8, count=n * 3, offset=i).reshape(-1, 3)
            i += n * 3
        while i < len(content):
            block = content[i]
            if block == 0x21:  # extension: label + sub-blocks
                i += 2
                while i < len(content) and content[i] != 0:
                    i += 1 + content[i]
                i += 1
            elif block == 0x2C:  # image descriptor
                x0, y0, iw, ih, iflags = struct.unpack_from("<HHHHB", content, i + 1)
                i += 10
                ct = gct
                if iflags & 0x80:  # local color table
                    n = 2 << (iflags & 7)
                    ct = np.frombuffer(content, np.uint8, count=n * 3, offset=i).reshape(-1, 3)
                    i += n * 3
                if ct is None or iw == 0 or ih == 0:
                    return None
                min_code = content[i]
                i += 1
                lzw = bytearray()
                while i < len(content) and content[i] != 0:
                    size = content[i]
                    lzw += content[i + 1 : i + 1 + size]
                    i += 1 + size
                i += 1
                idx = _gif_lzw_decode(bytes(lzw), min_code)
                if idx is None or len(idx) < iw * ih:
                    return None
                rows = np.frombuffer(bytes(idx[: iw * ih]), np.uint8).reshape(ih, iw)
                if iflags & 0x40:  # interlaced: 4-pass row shuffle
                    out_rows = np.zeros_like(rows)
                    src = 0
                    for start, step in _GIF_INTERLACE:
                        for y in range(start, ih, step):
                            out_rows[y] = rows[src]
                            src += 1
                    rows = out_rows
                if int(rows.max()) >= len(ct):
                    return None  # index out of palette range
                return ct[rows]  # first frame only
            elif block == 0x3B:  # trailer
                return None  # no image data seen
            else:
                return None
        return None
    except Exception:
        return None


# Annex K table specs for the encoder: (bits[16], symbols)
_ENC_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    bytes(range(12)),
)
_ENC_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    bytes(
        [
            0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
            0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
            0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
            0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
            0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
            0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
            0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
            0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
            0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
            0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
            0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
            0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
            0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
            0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
        ]
    ),
)


def _enc_huff_codes(bits: list[int], symbols: bytes) -> dict[int, tuple[int, int]]:
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, length: int, code: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        while self.n:
            self.write(1, 1)  # pad with 1-bits per spec
        return bytes(self.out)


def encode_jpeg_gray(pixels: np.ndarray, quant: np.ndarray | None = None) -> bytes:
    """Grayscale HxW (dims multiples of 8) → baseline JPEG bytes.

    Standard Annex K Huffman tables; `quant` is a 64-entry zigzag-order
    table (default all-ones → quantization error is pure DCT rounding, so
    a solid-gray image round-trips losslessly — the property the
    multimodal_jpeg_features oracle exploits)."""
    h, w = pixels.shape
    if h % 8 or w % 8:
        raise ValueError("dims must be multiples of 8")
    qz = (quant if quant is not None else np.ones(64)).astype(np.int64)
    dc_codes = _enc_huff_codes(*_ENC_DC_LUMA)
    ac_codes = _enc_huff_codes(*_ENC_AC_LUMA)
    writer = _JpegBitWriter()
    pred = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            block = (
                pixels[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(np.float64)
                - 128.0
            )
            coeffs = _IDCT_A @ block @ _IDCT_A.T  # forward orthonormal DCT
            zz = np.round(coeffs.reshape(-1)[_ZIGZAG] / qz).astype(np.int64)
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            t = int(abs(diff)).bit_length()
            writer.write(*dc_codes[t])
            if t:
                writer.write(t, diff if diff >= 0 else diff + (1 << t) - 1)
            run = 0
            last_nz = max([k for k in range(1, 64) if zz[k]], default=0)
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    if run == 16:
                        writer.write(*ac_codes[0xF0])  # ZRL
                        run = 0
                    continue
                s = abs(v).bit_length()
                writer.write(*ac_codes[(run << 4) | s])
                writer.write(s, v if v >= 0 else v + (1 << s) - 1)
                run = 0
            if last_nz < 63:
                writer.write(*ac_codes[0x00])  # EOB

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes(int(q) for q in qz))
        + seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(_ENC_DC_LUMA[0]) + _ENC_DC_LUMA[1])
        + seg(0xC4, bytes([0x10]) + bytes(_ENC_AC_LUMA[0]) + _ENC_AC_LUMA[1])
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + writer.flush()
        + b"\xff\xd9"
    )


def _packbits_decode(data: bytes, expected: int) -> bytes | None:
    """TIFF PackBits (RLE): n in [0,127] → copy n+1 literal bytes;
    n in [-127,-1] → repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                return None
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                return None
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out) if len(out) >= expected else None


def decode_tiff(content: bytes) -> np.ndarray | None:
    """Baseline TIFF: both byte orders, 8-bit grayscale (photometric 0/1)
    and RGB (photometric 2), Compression 1 (none) or 32773 (PackBits),
    multi-strip. Returns (h, w, 3) uint8; gray replicates channels so
    downstream luma math is layout-independent."""
    if len(content) < 8 or content[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    bo = "<" if content[:2] == b"II" else ">"
    try:
        (ifd_off,) = struct.unpack_from(bo + "I", content, 4)
        if ifd_off + 2 > len(content):
            return None
        (n_entries,) = struct.unpack_from(bo + "H", content, ifd_off)
        tags: dict[int, list[int]] = {}
        for e in range(n_entries):
            off = ifd_off + 2 + e * 12
            if off + 12 > len(content):
                return None
            tag, typ, cnt = struct.unpack_from(bo + "HHI", content, off)
            size = {1: 1, 3: 2, 4: 4}.get(typ)
            if size is None:
                continue  # RATIONAL etc. — not needed for baseline tags
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            if size * cnt <= 4:
                vals = list(struct.unpack_from(bo + fmt * cnt, content, off + 8))
            else:
                (voff,) = struct.unpack_from(bo + "I", content, off + 8)
                if voff + size * cnt > len(content):
                    return None
                vals = list(struct.unpack_from(bo + fmt * cnt, content, voff))
            tags[tag] = vals
        w = tags.get(256, [0])[0]
        h = tags.get(257, [0])[0]
        bits = tags.get(258, [8])
        comp = tags.get(259, [1])[0]
        photo = tags.get(262, [1])[0]
        offsets = tags.get(273)
        spp = tags.get(277, [len(bits)])[0]
        rows_per_strip = tags.get(278, [h])[0] or h
        counts = tags.get(279)
        if not w or not h or offsets is None or counts is None:
            return None
        if any(b != 8 for b in bits) or spp not in (1, 3):
            return None
        if photo not in (0, 1, 2) or comp not in (1, 32773):
            return None
        if len(offsets) != len(counts):
            return None
        raw = bytearray()
        remaining_rows = h
        for so, sc in zip(offsets, counts):
            if so + sc > len(content):
                return None
            strip_rows = min(rows_per_strip, remaining_rows)
            expected = strip_rows * w * spp
            chunk = content[so : so + sc]
            if comp == 32773:
                dec = _packbits_decode(chunk, expected)
                if dec is None:
                    return None
                chunk = dec[:expected]
            if len(chunk) < expected:
                return None
            raw += chunk[:expected]
            remaining_rows -= strip_rows
        if remaining_rows > 0:
            return None
        px = np.frombuffer(bytes(raw), np.uint8).reshape(h, w, spp)
        if spp == 1:
            if photo == 0:  # WhiteIsZero: invert
                px = 255 - px
            px = np.repeat(px, 3, axis=2)
        return px
    except (struct.error, ValueError):
        return None


def encode_tiff(pixels: np.ndarray) -> bytes:
    """Minimal little-endian uncompressed TIFF (gray for 2-D/1-channel
    input, RGB otherwise), single strip — the test-side independent
    encoder for decode_tiff."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, spp = pixels.shape
    strip = pixels.astype(np.uint8).tobytes()
    entries = [
        (256, 3, 1, w),
        (257, 3, 1, h),
        (259, 3, 1, 1),
        (262, 3, 1, 1 if spp == 1 else 2),
        (273, 4, 1, 8),
        (277, 3, 1, spp),
        (278, 3, 1, h),
        (279, 4, 1, len(strip)),
    ]
    ifd_off = 8 + len(strip)
    extra = b""
    if spp == 1:
        entries.insert(2, (258, 3, 1, 8))
    else:
        # BitsPerSample = (8,8,8) doesn't fit inline: point past the IFD
        extra_off = ifd_off + 2 + 9 * 12 + 4
        entries.insert(2, (258, 3, 3, extra_off))
        extra = struct.pack("<HHH", 8, 8, 8)
    out = struct.pack("<2sHI", b"II", 42, ifd_off) + strip
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0) + extra
    return out


def decode_image(content: bytes) -> tuple[str, np.ndarray] | None:
    """Dispatch on magic bytes; None when no pure-python decoder applies."""
    px = decode_ppm(content)
    if px is not None:
        return ("ppm", px)
    px = decode_bmp(content)
    if px is not None:
        return ("bmp", px)
    px = decode_png(content)
    if px is not None:
        return ("png", px)
    px = decode_jpeg(content)
    if px is not None:
        return ("jpeg", px)
    px = decode_gif(content)
    if px is not None:
        return ("gif", px)
    px = decode_tiff(content)
    if px is not None:
        return ("tiff", px)
    return None


def _decode_image_stub(content: bytes) -> tuple[int, int, float]:
    """STUB for formats with no pure-python decode path (progressive JPEG,
    sub-byte-depth PNG, webp/heic/...): deterministic fake dims/luma
    from the byte content, so pipelines stay testable."""
    if content is None:
        return (0, 0, 0.0)
    n = len(content)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    luma = (sum(content[:256]) % 2551) / 10.0 if n else 0.0
    return (width, height, luma)


def mean_luma(pixels: np.ndarray) -> float:
    """Rec.601 luma mean over the image, exact float64."""
    px = pixels.astype(np.float64)
    return float(
        (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]).mean()
    )


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample (the half-pixel-center grid most
    libraries use)."""
    h, w, _ = pixels.shape
    ys = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1)
    return pixels[ys][:, xs]


def resize_bilinear(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Bilinear resample on the half-pixel-center grid, float64 blend,
    edge-clamped, returned as float64 (callers quantize as needed).

    Fully vectorized: two gathers + one blend per axis, no python loop.
    On a linear intensity ramp the interpolation is EXACT (a plane
    through 4 coplanar corners), which the registry oracle exploits."""
    h, w, _ = pixels.shape
    src = pixels.astype(np.float64)

    def axis_coords(n_out: int, n_in: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        centers = (np.arange(n_out) + 0.5) * n_in / n_out - 0.5
        lo = np.clip(np.floor(centers), 0, n_in - 1).astype(np.int64)
        hi = np.minimum(lo + 1, n_in - 1)
        frac = np.clip(centers - lo, 0.0, 1.0)
        return lo, hi, frac

    y0, y1, fy = axis_coords(height, h)
    x0, x1, fx = axis_coords(width, w)
    top = src[y0][:, x0] * (1 - fx)[None, :, None] + src[y0][:, x1] * fx[None, :, None]
    bot = src[y1][:, x0] * (1 - fx)[None, :, None] + src[y1][:, x1] * fx[None, :, None]
    return top * (1 - fy)[:, None, None] + bot * fy[:, None, None]


RESIZE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
    ]
)


def bilinear_resize_features(media: DataFrame, factor: int = 2) -> DataFrame:
    """Decode → bilinear downscale by ``factor`` → Rec.601 mean luma,
    computed on the float64 resized raster (no uint8 re-quantization, so
    linear-ramp exactness survives to the feature). Zero shuffle."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                decoded = decode_image(content) if content else None
                if decoded is None:
                    rows.append(
                        {
                            "media_id": media_id,
                            "out_w": None,
                            "out_h": None,
                            "mean_luma": None,
                        }
                    )
                    continue
                px = decoded[1]
                h, w, _ = px.shape
                ow, oh = max(1, w // factor), max(1, h // factor)
                small = resize_bilinear(px, ow, oh)
                luma = (
                    0.299 * small[:, :, 0]
                    + 0.587 * small[:, :, 1]
                    + 0.114 * small[:, :, 2]
                ).mean()
                rows.append(
                    {
                        "media_id": media_id,
                        "out_w": ow,
                        "out_h": oh,
                        "mean_luma": float(luma),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in RESIZE_FEATURES_SCHEMA.fields]
            )

    return (
        media.where(F.col("modality") == "image")
        .select("media_id", "content")
        .mapInPandas(extract, RESIZE_FEATURES_SCHEMA)
    )


# ---------------------------------------------------------------- pHash
def _dct_basis(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (n x n), float64."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    c = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    c[0] *= np.sqrt(1.0 / n)
    c[1:] *= np.sqrt(2.0 / n)
    return c


_DCT32 = _dct_basis(32)


def phash63(pixels: np.ndarray) -> int:
    """63-bit perceptual hash: luma → 32x32 nearest-neighbor resample →
    2-D DCT-II → low-frequency 8x8 block minus DC → bit i = coeff_i >
    median. Uniform brightness shifts move only the DC coefficient, so
    the hash is brightness-invariant by construction; small crops/noise
    flip few bits — near-duplicates are small Hamming distances."""
    px = pixels.astype(np.float64)
    luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    h, w = luma.shape
    ys = np.minimum(((np.arange(32) + 0.5) * h / 32).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(32) + 0.5) * w / 32).astype(np.int64), w - 1)
    small = luma[ys][:, xs]
    d = _DCT32 @ small @ _DCT32.T
    block = d[:8, :8].flatten()[1:]  # drop DC
    med = float(np.median(block))
    bits = block > med
    out = 0
    for i, b in enumerate(bits):
        if b:
            out |= 1 << i
    return out


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def phash_features(media: DataFrame) -> DataFrame:
    """Perceptual hash per image (real decode; undecodable → null)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                decoded = decode_image(content) if content else None
                rows.append(
                    {
                        "media_id": media_id,
                        "phash": phash63(decoded[1]) if decoded else None,
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "phash"])

    return (
        media.where(F.col("modality") == "image")
        .select("media_id", "content")
        .mapInPandas(extract, PHASH_SCHEMA)
    )


def phash_neardup_pairs(
    feats: DataFrame,
    max_hamming: int = 5,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate image pairs by pHash Hamming distance, via banded
    blocking: 8 bands of 8 bits — two hashes within Hamming distance 7
    MUST agree on at least one band (pigeonhole), so the candidate join
    is an equi-join on (band_idx, band_bits) with NO false negatives for
    max_hamming ≤ 7, and the quadratic all-pairs comparison never runs.
    Same scale shape as the SimHash/LSH text paths.

    `materialize` (r14, guide §2.4): `feats` normally ends in the
    mapInPandas decode+hash — the most expensive stage of any pHash
    pipeline — and this function feeds it to BOTH sides of the band
    self-join, so Spark would decode every image twice. One
    localCheckpoint of the tiny (media_id, phash) relation feeds both
    sides; registry callers must be tagged checkpointed=True."""
    if max_hamming > 7:
        raise ValueError("8x8-bit banding guarantees recall only to Hamming 7")
    hashed = feats.where(F.col("phash").isNotNull())
    if materialize:
        hashed = hashed.localCheckpoint()
    bands = hashed.select(
        "media_id",
        "phash",
        F.explode(F.array(*[F.lit(i) for i in range(8)])).alias("band"),
    ).select(
        "media_id",
        "phash",
        "band",
        F.expr("shiftrightunsigned(phash, band * 8) & 255").alias("band_bits"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "media_a",
        "media_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def decode_wav(content: bytes) -> tuple[int, int, np.ndarray] | None:
    """WAV/RIFF → (sample_rate, n_channels, samples).

    Supports PCM16 (samples returned as-is), PCM8 (unsigned, recentered
    and scaled ×256 to the PCM16 range), and IEEE float32 (scaled
    ×32768) — so downstream RMS/duration math is format-independent."""
    if not content or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    i = 12
    rate = channels = None
    samples = None
    fmt_bits = None
    while i + 8 <= len(content):
        chunk_id = content[i : i + 4]
        size = struct.unpack_from("<I", content, i + 4)[0]
        if chunk_id == b"fmt ":
            if i + 24 > len(content):  # truncated fmt chunk
                return None
            fmt, channels, rate = struct.unpack_from("<HHI", content, i + 8)
            bits = struct.unpack_from("<H", content, i + 22)[0]
            if (fmt, bits) not in ((1, 16), (1, 8), (3, 32)):
                return None
            fmt_bits = (fmt, bits)
        elif chunk_id == b"data":
            if i + 8 + size > len(content):  # truncated data chunk
                return None
            if fmt_bits is None:
                return None  # data before fmt: malformed
            if fmt_bits == (1, 16):
                samples = np.frombuffer(content, "<i2", count=size // 2, offset=i + 8)
            elif fmt_bits == (1, 8):
                raw = np.frombuffer(content, np.uint8, count=size, offset=i + 8)
                samples = (raw.astype(np.int64) - 128) * 256
            else:  # IEEE float32
                raw = np.frombuffer(content, "<f4", count=size // 4, offset=i + 8)
                samples = raw.astype(np.float64) * 32768.0
        i += 8 + size + (size & 1)
    if rate is None or samples is None:
        return None
    return (rate, channels, samples)


# ---------------------------------------------------------------- operators
def image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract images in Arrow batches (mapInPandas).

    PPM/BMP/PNG/JPEG (baseline + progressive) payloads get REAL dims +
    Rec.601 mean luma; anything undecodable gets the deterministic stub
    (the decoder column says which path ran)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                decoded = decode_image(content) if content else None
                if decoded is not None:
                    codec, px = decoded
                    row = {
                        "media_id": media_id,
                        "n_bytes": len(content),
                        "width": int(px.shape[1]),
                        "height": int(px.shape[0]),
                        "mean_luma": mean_luma(px),
                        "decoder": codec,
                    }
                else:
                    width, height, luma = _decode_image_stub(content)
                    row = {
                        "media_id": media_id,
                        "n_bytes": len(content) if content is not None else 0,
                        "width": width,
                        "height": height,
                        "mean_luma": luma,
                        "decoder": "stub",
                    }
                rows.append(row)
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    return (
        media.where(F.col("modality") == "image")
        .select("media_id", "content")
        .mapInPandas(extract, IMAGE_FEATURES_SCHEMA)
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize for PPM/BMP payloads: decode → nearest-neighbor resample
    → re-encode in the source codec. Undecodable payloads pass through
    with meta.resized='false' (a real pipeline would route them to a
    PIL-equipped stage); output schema is MEDIA_SCHEMA."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                decoded = decode_image(content) if content else None
                if decoded is not None:
                    codec, px = decoded
                    out = resize_nearest(px, width, height)
                    # jpeg re-encode would be lossy — emit the decoded
                    # raster as PPM; meta.codec records the source format
                    encoders = {"ppm": encode_ppm, "bmp": encode_bmp, "png": encode_png}
                    payload = encoders.get(codec, encode_ppm)(out)
                    meta = {
                        "resized": "true",
                        "codec": codec,
                        "width": str(width),
                        "height": str(height),
                    }
                else:
                    payload, meta = content, {"resized": "false"}
                rows.append(
                    {
                        "media_id": media_id,
                        "modality": "image",
                        "content": payload,
                        "meta": meta,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return (
        media.where(F.col("modality") == "image")
        .select("media_id", "content")
        .mapInPandas(resize, MEDIA_SCHEMA)
    )


def audio_features(media: DataFrame) -> DataFrame:
    """REAL WAV decode (PCM16/PCM8/float32): rate/channels/duration/RMS."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                decoded = decode_wav(content) if content else None
                if decoded is None:
                    rows.append(
                        {
                            "media_id": media_id,
                            "sample_rate": None,
                            "n_channels": None,
                            "n_samples": None,
                            "duration_ms": None,
                            "rms": None,
                        }
                    )
                    continue
                rate, channels, samples = decoded
                n_frames = len(samples) // max(1, channels)
                rms = float(np.sqrt((samples.astype(np.float64) ** 2).mean())) if len(samples) else 0.0
                rows.append(
                    {
                        "media_id": media_id,
                        "sample_rate": rate,
                        "n_channels": channels,
                        "n_samples": int(n_frames),
                        "duration_ms": 1000.0 * n_frames / rate,
                        "rms": rms,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return (
        media.where(F.col("modality") == "audio")
        .select("media_id", "content")
        .mapInPandas(extract, AUDIO_FEATURES_SCHEMA)
    )


def encode_wav_pcm16(rate: int, samples: np.ndarray) -> bytes:
    """Minimal mono RIFF/WAVE PCM16 encoder (the write half of
    decode_wav's PCM16 path)."""
    data = np.asarray(samples).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decimate_audio(media: DataFrame, factor: int) -> DataFrame:
    """Integer-factor downsampling: decode WAV, keep every factor-th
    frame, re-encode PCM16 at rate/factor. A decode → transform →
    re-encode chain per clip inside Arrow batches — zero shuffle, and
    the physical frequency content below the new Nyquist is preserved
    (the dominant Hz of a tone is invariant, which the registry oracle
    pins). Non-audio rows and undecodable payloads pass through
    unchanged."""
    if factor < 1:
        raise ValueError("factor must be >= 1")

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            contents = []
            for modality, content in zip(pdf["modality"], pdf["content"]):
                content = bytes(content) if content is not None else None
                if modality != "audio" or not content:
                    contents.append(content)
                    continue
                decoded = decode_wav(content)
                if decoded is None:
                    contents.append(content)
                    continue
                rate, channels, samples = decoded
                frames = samples.reshape(-1, max(1, channels))[::factor]
                contents.append(
                    encode_wav_pcm16(rate // factor, frames.reshape(-1))
                )
            out["content"] = contents
            yield out

    return media.mapInPandas(transform, media.schema)


AUDIO_SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("dominant_bin", T.IntegerType(), True),
        T.StructField("dominant_hz", T.DoubleType(), True),
        T.StructField("zero_cross", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def audio_spectral_features(media: DataFrame) -> DataFrame:
    """Frequency-domain audio features: dominant FFT bin, zero crossings, RMS.

    Decodes WAV (mono assumed; multichannel uses the interleaved stream
    as-is) and runs a real rFFT per clip inside the Arrow batch — the
    numpy FFT is vectorizable across same-length clips but clip lengths
    vary, so it is a per-row O(n log n) on decoded samples. The dominant
    bin excludes DC (bin 0); ``dominant_hz = bin * rate / n``. At 100 TB
    the decode+FFT is embarrassingly parallel (one clip never spans
    partitions) and shuffles nothing.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                decoded = decode_wav(content) if content else None
                if decoded is None or len(decoded[2]) < 2:
                    rows.append(
                        {
                            "media_id": media_id,
                            "sample_rate": None,
                            "n_samples": None,
                            "dominant_bin": None,
                            "dominant_hz": None,
                            "zero_cross": None,
                            "rms": None,
                        }
                    )
                    continue
                rate, _channels, samples = decoded
                x = samples.astype(np.float64)
                mag = np.abs(np.fft.rfft(x))
                dom = int(np.argmax(mag[1:])) + 1 if len(mag) > 1 else 0
                zc = int(np.sum(x[1:] * x[:-1] < 0))
                rows.append(
                    {
                        "media_id": media_id,
                        "sample_rate": rate,
                        "n_samples": len(x),
                        "dominant_bin": dom,
                        "dominant_hz": dom * rate / len(x),
                        "zero_cross": zc,
                        "rms": float(np.sqrt((x**2).mean())),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_SPECTRAL_SCHEMA.fields]
            )

    return (
        media.where(F.col("modality") == "audio")
        .select("media_id", "content")
        .mapInPandas(extract, AUDIO_SPECTRAL_SCHEMA)
    )


VIDEO_FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("decoder", T.StringType(), False),
    ]
)


def video_frame_features(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling over concatenated-P6 video streams: split the
    stream with the frame-walking parser, decode only every `every_n`-th
    frame, and emit per-frame dims + Rec.601 luma.

    Arrow-batched mapInPandas; undecodable payloads are skipped (a real
    pipeline routes them to an ffmpeg-equipped stage). Only sampled
    frames are decoded — at 100 TB the decode cost scales with the
    sample rate, not the corpus."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                if not content:
                    continue
                y4m = parse_y4m(content)
                if y4m is not None:
                    w, h, _cfmt, yframes = y4m
                    n = len(yframes)
                    for idx in range(0, n, max(1, every_n)):
                        rows.append(
                            {
                                "media_id": media_id,
                                "frame_idx": idx,
                                "n_frames": n,
                                "width": w,
                                "height": h,
                                "mean_luma": y4m_frame_luma(w, h, yframes[idx]),
                                "decoder": "y4m",
                            }
                        )
                    continue
                frames = split_ppm_stream(content)
                if frames is None:
                    continue
                n = len(frames)
                for idx in range(0, n, max(1, every_n)):
                    px = decode_ppm(frames[idx])
                    if px is None:
                        continue
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": idx,
                            "n_frames": n,
                            "width": int(px.shape[1]),
                            "height": int(px.shape[0]),
                            "mean_luma": mean_luma(px),
                            "decoder": "ppm-stream",
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FRAME_FEATURES_SCHEMA.fields]
            )

    return (
        media.where(F.col("modality") == "video")
        .select("media_id", "content")
        .mapInPandas(extract, VIDEO_FRAME_FEATURES_SCHEMA)
    )


def sample_frames(media: DataFrame, every_n: int = 10, max_frames: int = 8) -> DataFrame:
    """Frame-sample videos: deterministic fake frames (byte slices) with
    real batch plumbing. Real implementation: ffmpeg/pyav per batch —
    video containers have no pure-python decode path."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                # fake "frames": fixed-size slices at every_n strides
                stride = max(1, every_n)
                for idx in range(min(max_frames, max(1, len(content) // (stride * 16)))):
                    start = idx * stride * 16
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": idx,
                            "frame": bytes(content[start : start + 16]),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return (
        media.where(F.col("modality") == "video")
        .select("media_id", "content")
        .mapInPandas(sample, FRAME_SCHEMA)
    )


def pseudo_embed(media: DataFrame, dims: int = 8) -> DataFrame:
    """Deterministic pseudo-embedding from content bytes — stands in for a
    model-forward pass; same shape as a real encoder output."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        ]
    )

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                digest = hashlib.sha256(content or b"").digest()
                vec = [
                    (digest[i % 32] - 128) / 128.0 for i in range(dims)
                ]
                rows.append({"media_id": media_id, "embedding": vec})
            yield pd.DataFrame(rows, columns=["media_id", "embedding"])

    return media.select("media_id", "content").mapInPandas(embed, out_schema)


def video_scene_cuts(
    media: DataFrame, threshold_x1000: int = 100_000, every_n: int = 1
) -> DataFrame:
    """Scene-cut detection over decoded frame lumas: a cut is a
    frame-to-frame jump of at least `threshold_x1000` milli-luma (the
    classic absolute-difference detector; real pipelines swap luma for
    histogram distance, same shape). Composition: the frame walk +
    decode from video_frame_features, lumas quantized to x1000
    integers, one lag() window PER MEDIA (state bounded by a single
    stream's frame count), one hash agg to the per-media summary —
    decode cost and window state both scale with frames-per-video,
    never the corpus.

    Returns (media_id, n_frames, n_cuts, first_cut_idx); first_cut_idx
    is null when no cut clears the threshold."""
    from pyspark.sql import Window

    feats = video_frame_features(media, every_n=every_n)
    lx = F.round(F.col("mean_luma") * 1000).cast("long")
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    scored = feats.select(
        "media_id", "frame_idx", "n_frames", lx.alias("luma_x1000")
    ).withColumn(
        "delta", F.abs(F.col("luma_x1000") - F.lag("luma_x1000").over(w))
    )
    is_cut = F.col("delta") >= threshold_x1000
    return scored.groupBy("media_id").agg(
        F.max("n_frames").alias("n_frames"),
        F.count_if(is_cut).cast("long").alias("n_cuts"),
        F.min(F.when(is_cut, F.col("frame_idx"))).cast("long")
        .alias("first_cut_idx"),
    )


AUDIO_SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("idx", T.LongType(), False),
        T.StructField("amp", T.LongType(), False),
    ]
)


def audio_samples(media: DataFrame) -> DataFrame:
    """REAL WAV decode to per-sample rows (media_id, idx, amp) — the
    relational view of the waveform. Arrow-batched mapInPandas;
    undecodable payloads are skipped; multi-channel streams emit the
    FIRST channel (VAD runs on a mono mixdown in real pipelines).
    Fan-out is bounded by samples-per-clip, the same contract as the
    video frame walk."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "idx": [], "amp": []}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                decoded = decode_wav(content) if content else None
                if decoded is None:
                    continue
                _rate, channels, samples = decoded
                mono = samples[:: max(1, channels)]
                out["media_id"].extend([media_id] * len(mono))
                out["idx"].extend(range(len(mono)))
                out["amp"].extend(int(x) for x in mono)
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_SAMPLES_SCHEMA.fields]
            )

    return (
        media.where(F.col("modality") == "audio")
        .select("media_id", "content")
        .mapInPandas(extract, AUDIO_SAMPLES_SCHEMA)
    )


def audio_activity_segments(
    media: DataFrame, threshold: int = 50
) -> DataFrame:
    """Energy-threshold voice-activity detection: maximal runs of
    consecutive samples with |amp| >= threshold, as one row per
    segment (media_id, seg_id, start_idx, end_idx, n_samples).

    The segmentation is the relational interval-pack idiom over the
    decoded samples: flag the active samples, mark run starts with one
    lag() per media, number runs with a cumulative sum of start marks,
    and aggregate each run — two windows and one hash agg, all keyed
    by media_id, state bounded by a single clip's sample count. The
    same pack shape works unchanged for sensor gap detection or
    session stitching; real pipelines swap |amp| for a windowed energy
    feature, same plan."""
    from pyspark.sql import Window

    s = audio_samples(media).withColumn(
        "active", F.abs(F.col("amp")) >= threshold
    )
    w = Window.partitionBy("media_id").orderBy("idx")
    started = s.withColumn(
        "is_start",
        F.col("active")
        & ~F.coalesce(F.lag("active").over(w), F.lit(False)),
    ).withColumn(
        "seg_id",
        F.sum(F.col("is_start").cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        started.where("active")
        .groupBy("media_id", "seg_id")
        .agg(
            F.min("idx").cast("long").alias("start_idx"),
            F.max("idx").cast("long").alias("end_idx"),
            F.count("*").cast("long").alias("n_samples"),
        )
    )
