"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side architecture is real and tested — schema contract, Arrow
batch shape, ``mapInPandas`` partition-parallel decode, partition sizing.
Container-header decode is REAL: ``parse_media_header`` reads PNG / BMP /
GIF / WAV / JPEG dimensions and audio rates in pure Python (magic bytes +
fixed fields + chunk/segment walks — no codec library needed), and
``extract_media_headers`` runs it partition-parallel. Full content
decode is REAL for ALL FIVE containers
(``_make_content_decoders``): 24-bit, 8-bit-paletted and
BI_RLE8/BI_RLE4 run-length-compressed BMP pixels, 16-bit PCM and
32-bit IEEE-float WAV samples, PNG at 1/2/4/8/16-bit
depths incl. palette and Adam7 interlace (zlib inflate + scanline
unfiltering), GIF incl. interlace (variable-width LZW + palette,
frame-addressable for animations), and baseline-sequential +
progressive JPEG (canonical Huffman decode, dequantize, 8x8 IDCT,
chroma upsample, YCbCr→RGB, restart markers; 12-bit grayscale AND
3-component YCbCr color at baseline + progressive with 16-bit DQT
tables; 4-component Adobe CMYK/YCCK via the APP14 transform byte;
ARITHMETIC entropy coding, both sequential SOF9 and progressive
SOF10, via the T.81 Annex D QM coder in ``operators/jpegarith.py``,
validated bit-exact against libjpeg-turbo; 12-bit precision across
ALL of grayscale/YCbCr/CMYK) — pure Python + numpy, no codec library.
The remaining genuine format boundaries stay behind
NotImplementedError — each one also refused by stock libjpeg-turbo:
lossless/differential/hierarchical SOFs, non-integer chroma
subsampling ratios, and >4-component frames.
``extract_image_meta`` keeps the sha-derived deterministic metadata
used by the oracle-checked catalog rows.

Design for 100 TB of media: binary payloads stay columnar (parquet binary
with metadata columns for pruning), decode runs inside ``mapInPandas`` so
bytes never leave the executor, and ``spark.sql.files.maxPartitionBytes``
bounds the per-task working set.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.util import (
    spread,
)
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("media_type", StringType(), False),
    ]
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sha256", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("format", StringType(), True),
    ]
)


def _make_header_parser():
    """Build the container-header parse function as a DYNAMIC closure.

    Single source of truth for PNG / BMP / GIF / WAV / JPEG header
    logic: both the driver-side ``parse_media_header`` and the
    executor-side ``extract_media_headers`` batch function call this, and
    because the returned function is dynamically created, cloudpickle
    ships it BY VALUE — executors never need this package importable
    (the same rationale as ``extract_image_meta``), without restating the
    parser in two places.

    Unsigned 32-bit dimension/rate fields that exceed int32 (a corrupt
    or crafted header) are treated as unparseable rather than returned —
    the extractor's output columns are int32 and a poison value must not
    kill the task."""
    import struct

    _INT32_MAX = 2**31 - 1

    def parse(payload: bytes) -> dict | None:
        b = bytes(payload)
        if (
            b[:8] == b"\x89PNG\r\n\x1a\n"
            and len(b) >= 24
            and b[12:16] == b"IHDR"
        ):
            w, h = struct.unpack(">II", b[16:24])
            if w > _INT32_MAX or h > _INT32_MAX:
                return None
            return {"format": "png", "width": w, "height": h}
        if b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            # negative height encodes top-down row order
            return {"format": "bmp", "width": w, "height": abs(h)}
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return {"format": "gif", "width": w, "height": h}
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            off = 12
            while off + 8 <= len(b):  # chunk walk: id, size, payload
                cid = b[off : off + 4]
                (size,) = struct.unpack("<I", b[off + 4 : off + 8])
                if cid == b"fmt " and off + 16 <= len(b):
                    ch, sr = struct.unpack("<HI", b[off + 10 : off + 16])
                    if sr > _INT32_MAX:
                        return None
                    return {
                        "format": "wav",
                        "sample_rate": sr,
                        "n_channels": ch,
                    }
                off += 8 + size + (size & 1)  # chunks are word-aligned
            return None
        if b[:2] == b"\xff\xd8":  # JPEG: segment walk to the first SOFn
            sof = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
            off = 2
            while off + 4 <= len(b) and b[off] == 0xFF:
                marker = b[off + 1]
                if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                    off += 2  # standalone markers carry no length
                    continue
                (seglen,) = struct.unpack(">H", b[off + 2 : off + 4])
                if marker in sof and off + 9 <= len(b):
                    h, w = struct.unpack(">HH", b[off + 5 : off + 9])
                    return {"format": "jpeg", "width": w, "height": h}
                off += 2 + seglen
            return None
        return None

    return parse


def parse_media_header(payload: bytes) -> dict | None:
    """Pure-Python container-header parse: PNG / BMP / GIF / WAV / JPEG.

    Returns ``{"format", "width", "height"}`` for images,
    ``{"format", "sample_rate", "n_channels"}`` for WAV, or ``None`` when
    the magic bytes match no supported container (or the header is
    truncated/corrupt/out-of-int32-range). Only fixed header fields and
    chunk/segment walks are read — never entropy-coded payload — so this
    is dependency-free and O(header) per file.
    """
    return _make_header_parser()(payload)


def decode_image_stub(payload: bytes) -> object:
    """Header-level decode for the containers ``parse_media_header``
    understands. Full content decode exists for BMP/WAV/PNG/GIF/JPEG
    (``decode_bmp_pixels`` / ``decode_wav_samples`` /
    ``decode_png_pixels`` / ``decode_gif_pixels`` /
    ``decode_jpeg_pixels``); containers outside those formats raise
    NotImplementedError — PIL/torchvision would replace that branch."""
    meta = parse_media_header(payload)
    if meta is not None:
        return meta
    raise NotImplementedError(
        "full image codecs are not available in this environment; "
        "swap in PIL/torchvision here"
    )


def _make_content_decoders():
    """REAL full-content decoders, as dynamic closures (same rationale
    as ``_make_header_parser``: one source of truth, shipped by value
    into executors). Returns ``(bmp, wav, png)``:

    * ``bmp(payload)`` — uncompressed 24-bit BMP (BI_RGB) pixel decode:
      fixed header fields, 4-byte row-stride padding, bottom-up
      (positive height) vs top-down (negative height) row order,
      BGR→RGB channel order. Returns an (H, W, 3) uint8 RGB array.
    * ``wav(payload)`` — 16-bit integer PCM WAV sample decode: RIFF
      chunk walk to ``fmt ``/``data``, little-endian int16 frames
      de-interleaved per channel. Returns ``(sample_rate, samples)``
      with ``samples`` shaped (n_frames, n_channels).
    * ``png(payload)`` — REAL entropy-coded decode for
      grayscale/RGB/RGBA PNG at 8/16-bit depth, palette (PLTE) and
      1/2/4-bit gray/palette, none or Adam7 interlace: IDAT chunks
      are inflated with stdlib zlib and every scanline un-filtered
      per the spec (None/Sub/Up/Average/Paeth), per pass for Adam7.
      Returns an (H, W, C) uint8 array (uint16 for 16-bit depth).
      Unfiltering is numpy-vectorized per row where the filter allows
      (None/Up memcpy/add, Sub per-lane cumsum); Average/Paeth rows
      fall back to a scalar x-loop — swap in PIL for throughput
      where it exists.
    * ``gif(payload)`` — REAL LZW decode of the first frame of a
      GIF87a/89a, interlaced or not: variable-width LSB-first codes,
      growing dictionary with clear/end codes, global or local color
      table, extension blocks skipped, four-pass interlace row
      scatter. Returns an (H, W, 3) uint8 RGB array.

    Unsupported variants (BI_BITFIELDS/1-2-bit BMP, non-16-bit-PCM
    non-float32 WAV, lossless/differential-family JPEG SOFs) raise
    NotImplementedError — the header-only path still covers them.
    4/8-bit paletted BMP, BI_RLE8/BI_RLE4 compressed BMP, 32-bit
    IEEE-float WAV (decoded into the int16 sample domain via v·32768
    clipped), 12-bit grayscale AND color JPEG (baseline and
    progressive), 4-component Adobe CMYK/YCCK JPEG, and
    ARITHMETIC-coded JPEG (sequential SOF9 and progressive SOF10)
    decode for real.
    """
    import struct
    import zlib

    import numpy as np

    # Decoded-size cap in BYTES (w·h·channels), not pixels: the
    # pure-Python unfilter/LZW loops are O(decoded bytes), so the cap is
    # what bounds both allocation AND wall-clock per payload inside a
    # mapInPandas task. 16 MiB ≈ a 2048×2048 RGBA frame; a valid-header
    # adversarial file beyond it fails fast as poison instead of
    # stalling an executor for minutes.
    max_decode_bytes = 1 << 24

    def _clean_scan(b: bytes, start: int):
        """Destuff (0xFF00 → 0xFF) the JPEG entropy stream and split it
        at restart markers in one pass over MARKER positions only
        (``bytes.find`` — O(0xFF occurrences), not O(bytes) of Python
        branching). Returns ``([(clean_bytes, terminator), ...], end)``
        with terminator ``("rst", n)`` | ``("marker", byte)`` |
        ``("end",)`` — the reader raises the old per-byte errors from
        the terminator if it runs out of bits mid-symbol — and ``end``
        the offset of the 0xFF introducing the terminating marker (or
        ``len(b)``), where a multi-scan parser resumes its marker
        walk."""
        segs = []
        cur = bytearray()
        i, n = start, len(b)
        while True:
            j = b.find(b"\xff", i)
            if j < 0:
                cur += b[i:]
                segs.append((bytes(cur), ("end",)))
                return segs, n
            cur += b[i:j]
            if j + 1 >= n:
                # trailing 0xFF with nothing after: reading it would
                # have been "truncated"; never reading it is fine
                segs.append((bytes(cur), ("end",)))
                return segs, n
            nxt = b[j + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                i = j + 2
            elif 0xD0 <= nxt <= 0xD7:
                segs.append((bytes(cur), ("rst", nxt - 0xD0)))
                cur = bytearray()
                i = j + 2
            else:
                segs.append((bytes(cur), ("marker", nxt)))
                return segs, j

    # plain dict cache, NOT functools.lru_cache: the closure ships to
    # executors by value via cloudpickle, which cannot pickle a
    # decorator-wrapped local
    _lut_cache: dict = {}

    def _huff_lut(items: tuple):
        """Flat 16-bit Huffman decode tables (values, lengths) from a
        canonical ``{(length, code): symbol}`` table: a single list
        index resolves any symbol from the next 16 peeked bits. Longer
        codes are painted first so a (malformed) shorter prefix
        overrides its extensions — the same shortest-match-wins order
        as a bit-serial reader. Unreachable peeks keep length 0 →
        'invalid JPEG Huffman code'. Cached per table content: a
        corpus sharing DHT segments builds each LUT once per executor."""
        hit = _lut_cache.get(items)
        if hit is not None:
            return hit
        val = np.zeros(1 << 16, np.int32)
        ln = np.zeros(1 << 16, np.int32)
        for (length, code), sym in sorted(
            items, key=lambda kv: -kv[0][0]
        ):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            val[lo:hi] = sym
            ln[lo:hi] = length
        out = (val.tolist(), ln.tolist())
        if len(_lut_cache) < 64:
            _lut_cache[items] = out
        return out

    def _bmp_rle_indices(data: bytes, w: int, hh: int, bpp: int):
        """Decode a BI_RLE8/BI_RLE4 pixel stream into an (hh, w) index
        raster in STORED (bottom-up) row order. The three escapes are
        honored: 0=end-of-line, 1=end-of-bitmap, 2=delta (cursor move;
        skipped pixels keep index 0, the spec's 'undefined' that every
        decoder renders as entry 0); count>0 is an encoded run (RLE4
        alternates the byte's two nibbles), escape>=3 is absolute mode
        (literal indices, word-aligned). A run painting past the row or
        bitmap, a truncated stream, or a missing end-of-bitmap raises
        ValueError (strict-poison). Cost is O(runs) Python steps with
        numpy slice fills — decompression output is bounded by the
        header's w*hh before any byte is read."""
        idx = np.zeros((hh, w), np.uint8)
        x = y = i = 0
        n = len(data)
        while i + 1 < n:
            cnt, val = data[i], data[i + 1]
            i += 2
            if cnt > 0:  # encoded run
                if y >= hh or x + cnt > w:
                    raise ValueError("BMP RLE run past row/bitmap end")
                if bpp == 8:
                    idx[y, x : x + cnt] = val
                else:
                    pair = np.array(
                        [val >> 4, val & 0x0F], np.uint8
                    )
                    idx[y, x : x + cnt] = np.tile(
                        pair, (cnt + 1) // 2
                    )[:cnt]
                x += cnt
            elif val == 0:  # end of line
                x, y = 0, y + 1
            elif val == 1:  # end of bitmap
                return idx
            elif val == 2:  # delta
                if i + 2 > n:
                    raise ValueError("truncated BMP RLE delta")
                x += data[i]
                y += data[i + 1]
                i += 2
                if x > w or y > hh:
                    raise ValueError("BMP RLE delta past bitmap")
            else:  # absolute mode: val literal indices
                cnt = val
                if y >= hh or x + cnt > w:
                    raise ValueError(
                        "BMP RLE absolute run past row/bitmap end"
                    )
                if bpp == 8:
                    nb = (cnt + 1) // 2 * 2  # pad to word boundary
                    if i + nb > n:
                        raise ValueError("truncated BMP RLE absolute run")
                    idx[y, x : x + cnt] = np.frombuffer(
                        data, np.uint8, cnt, i
                    )
                else:
                    nbytes = (cnt + 1) // 2
                    nb = (nbytes + 1) // 2 * 2  # pad to word boundary
                    if i + nb > n:
                        raise ValueError("truncated BMP RLE absolute run")
                    byts = np.frombuffer(data, np.uint8, nbytes, i)
                    nibs = np.empty(nbytes * 2, np.uint8)
                    nibs[0::2] = byts >> 4
                    nibs[1::2] = byts & 0x0F
                    idx[y, x : x + cnt] = nibs[:cnt]
                i += nb
                x += cnt
        raise ValueError("BMP RLE stream missing end-of-bitmap")

    def bmp(payload: bytes):
        b = bytes(payload)
        if b[:2] != b"BM" or len(b) < 34:
            raise ValueError("not a BMP container")
        (off,) = struct.unpack("<I", b[10:14])
        w, h = struct.unpack("<ii", b[18:26])
        (bpp,) = struct.unpack("<H", b[28:30])
        (comp,) = struct.unpack("<I", b[30:34])
        if comp not in (0, 1, 2) or (comp == 0 and bpp not in (4, 8, 24)):
            raise NotImplementedError(
                "pure-Python pixel decode covers uncompressed 24-bit, "
                "4/8-bit PALETTED and BI_RLE8/BI_RLE4 BMP only "
                f"(got bpp={bpp}, compression={comp})"
            )
        if comp and bpp != (8 if comp == 1 else 4):
            raise ValueError(
                f"BI_RLE{8 if comp == 1 else 4} requires "
                f"bpp={8 if comp == 1 else 4}, got {bpp}"
            )
        top_down, hh = h < 0, abs(h)
        if bpp in (4, 8):
            # paletted: BGRA color table follows the DIB header;
            # 4-bit rows pack two indices per byte, HIGH nibble first
            if len(b) < 50:
                raise ValueError("truncated BMP header")
            (dib_size,) = struct.unpack("<I", b[14:18])
            (clr_used,) = struct.unpack("<I", b[46:50])
            n_pal = clr_used or (1 << bpp)
            pal_off = 14 + dib_size
            if pal_off + 4 * n_pal > len(b):
                raise ValueError("truncated BMP color table")
            pal = (
                np.frombuffer(b, np.uint8, count=4 * n_pal,
                              offset=pal_off)
                .reshape(n_pal, 4)[:, 2::-1]  # BGR(A) → RGB
            )
            if comp:  # BI_RLE8 / BI_RLE4
                if top_down:
                    raise ValueError("top-down RLE BMP is invalid")
                if w * hh * 3 > max_decode_bytes:
                    raise ValueError(
                        "BMP too large for pure-Python decode"
                    )
                idx = _bmp_rle_indices(b[off:], w, hh, bpp)
            else:
                stride = (w * bpp + 31) // 32 * 4  # rows pad to 4 bytes
                if off + stride * hh > len(b):
                    raise ValueError("truncated BMP pixel data")
                raw = np.frombuffer(
                    b, np.uint8, count=stride * hh, offset=off
                ).reshape(hh, stride)
                if bpp == 8:
                    idx = raw[:, :w]
                else:
                    nib = np.empty((hh, stride * 2), np.uint8)
                    nib[:, 0::2] = raw >> 4
                    nib[:, 1::2] = raw & 0x0F
                    idx = nib[:, :w]
            if int(idx.max(initial=0)) >= n_pal:
                raise ValueError("BMP index outside color table")
            px = pal[idx]
            if not top_down:
                px = px[::-1]
            return px.copy()
        stride = (w * 3 + 3) // 4 * 4  # rows pad to 4-byte boundaries
        if off + stride * hh > len(b):
            raise ValueError("truncated BMP pixel data")
        px = np.frombuffer(b, np.uint8, count=stride * hh, offset=off)
        px = px.reshape(hh, stride)[:, : w * 3].reshape(hh, w, 3)
        if not top_down:
            px = px[::-1]  # stored bottom-up → logical top-down
        return px[..., ::-1].copy()  # BGR → RGB

    def wav(payload: bytes):
        b = bytes(payload)
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a WAV container")
        off, fmt, data = 12, None, None
        while off + 8 <= len(b):
            cid = b[off : off + 4]
            (size,) = struct.unpack("<I", b[off + 4 : off + 8])
            body = b[off + 8 : off + 8 + size]
            if cid == b"fmt ":
                fmt = body
            elif cid == b"data":
                data = body
            off += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt/data chunk")
        if len(fmt) < 16:
            # a corrupt header can declare a short fmt chunk; struct
            # would raise struct.error, which is NOT a ValueError —
            # normalize so poison-file guards catch it
            raise ValueError("truncated WAV fmt chunk")
        audio_fmt, ch, sr = struct.unpack("<HHI", fmt[0:8])
        (bits,) = struct.unpack("<H", fmt[14:16])
        if audio_fmt == 3 and bits == 32 and ch >= 1:
            # IEEE-float WAV: decode to the same int16 sample domain
            # the rest of the audio stack speaks (v·32768, clipped to
            # [-32768, 32767] — the exact inverse of int16/32768
            # normalization, so dyadic payloads round-trip losslessly)
            usable = len(data) // (4 * ch) * 4 * ch
            f = np.frombuffer(data[:usable], "<f4").reshape(-1, ch)
            scaled = np.clip(
                np.round(f.astype(np.float64) * 32768.0),
                -32768, 32767,
            ).astype(np.int16)
            return sr, scaled
        if audio_fmt != 1 or bits != 16 or ch < 1:
            raise NotImplementedError(
                "pure-Python sample decode covers 16-bit integer PCM "
                "and 32-bit IEEE-float WAV only "
                f"(got format={audio_fmt}, bits={bits})"
            )
        usable = len(data) // (2 * ch) * 2 * ch  # drop a torn frame
        samples = np.frombuffer(data[:usable], "<i2").reshape(-1, ch)
        return sr, samples

    def _png_unfilter(raw: bytes, off: int, h: int, stride: int,
                      bpp: int) -> bytearray:
        """Reverse the per-scanline filters of ``h`` rows of ``stride``
        filtered bytes starting at ``raw[off]`` (spec
        None/Sub/Up/Average/Paeth; ``bpp`` is the filter delta in
        BYTES, rounded up to 1 for sub-byte depths). Shared by the
        whole-image path and each Adam7 pass (every pass filters
        independently). Returns the reconstructed bytes; short input
        raises ValueError."""
        if len(raw) - off < h * (stride + 1):
            raise ValueError("truncated PNG scanline data")
        buf = np.frombuffer(
            raw, np.uint8, count=h * (stride + 1), offset=off
        ).reshape(h, stride + 1)
        fts = buf[:, 0]
        if int(fts.max(initial=0)) > 4:
            bad = int(fts[fts > 4][0])
            raise ValueError(f"bad PNG filter type {bad}")
        data = buf[:, 1:]
        out = np.zeros((h, stride), np.uint8)
        lanes = (stride + bpp - 1) // bpp  # Sub cumsum groups
        prow = np.zeros(stride, np.uint8)
        for y in range(h):
            ft = fts[y]
            row = data[y]
            if ft == 0:  # None: memcpy
                out[y] = row
            elif ft == 2:  # Up: whole-row uint8 add (wraps mod 256)
                np.add(row, prow, out=out[y])
            elif ft == 1:  # Sub: per-lane cumulative sum mod 256
                padded = np.zeros(lanes * bpp, np.uint8)
                padded[:stride] = row
                np.add.accumulate(
                    padded.reshape(lanes, bpp), axis=0,
                    dtype=np.uint8, out=padded.reshape(lanes, bpp),
                )
                out[y] = padded[:stride]
            elif ft == 3:  # Average: x-sequential per lane (out[x]
                # reads out[x-bpp] UNCONDITIONALLY — not vectorizable;
                # fixpoint iteration was measured at 17-33 passes to
                # converge, costlier than this loop). Per-lane running
                # accumulator avoids one list index per byte.
                r, p = row.tolist(), prow.tolist()
                o = [0] * stride
                for lane in range(bpp):
                    o[lane] = acc = (r[lane] + p[lane] // 2) & 0xFF
                    for x in range(lane + bpp, stride, bpp):
                        o[x] = acc = (r[x] + ((acc + p[x]) >> 1)) & 0xFF
                out[y] = o
            else:  # Paeth: genuinely sequential in x (pred selection
                # depends on the just-reconstructed left byte; on
                # smooth content pred=a chains span the whole row, so
                # fixpoint iteration does not converge). |b-c| and
                # b-2c are a-independent — precompute them vectorized.
                r, p = row.tolist(), prow.tolist()
                c16 = np.zeros(stride, np.int16)
                c16[bpp:] = prow[:-bpp]
                pa_l = np.abs(prow.astype(np.int16) - c16).tolist()
                d_l = (prow.astype(np.int16) - 2 * c16).tolist()
                o = [0] * stride
                for lane in range(bpp):
                    o[lane] = a = (r[lane] + p[lane]) & 0xFF  # pred=b
                    for x in range(lane + bpp, stride, bpp):
                        c = p[x - bpp]
                        pb = a - c if a >= c else c - a
                        t = a + d_l[x]
                        pc = t if t >= 0 else -t
                        pa = pa_l[x]
                        if pa <= pb and pa <= pc:
                            pred = a
                        elif pb <= pc:
                            pred = p[x]
                        else:
                            pred = c
                        o[x] = a = (r[x] + pred) & 0xFF
                out[y] = o
            prow = out[y]
        return out.tobytes()

    def _png_unpack(rowbytes, h: int, w: int, depth: int):
        """(h, row-packed bytes) -> (h, w) uint8 SAMPLE array for one
        1/2/4/8-bit channel-1 image (MSB-first bit order per spec)."""
        arr = np.frombuffer(bytes(rowbytes), np.uint8).reshape(h, -1)
        if depth == 8:
            return arr[:, :w].copy()
        per = 8 // depth
        shifts = np.arange(per - 1, -1, -1) * depth
        vals = (
            (arr[:, :, None] >> shifts[None, None, :])
            & ((1 << depth) - 1)
        ).reshape(h, -1)
        return vals[:, :w].astype(np.uint8)

    # Adam7: (x0, y0, dx, dy) per pass
    _ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    def png(payload: bytes):
        """8/16-bit gray/RGB/RGBA, PALETTE (PLTE) and 1/2/4-bit
        gray/palette PNG, non-interlaced or Adam7-INTERLACED: real
        zlib inflate, spec unfiltering per image (or per pass — each
        Adam7 pass filters independently), sub-byte sample unpacking
        (MSB-first), palette lookup to RGB, and gray bit-replication
        scaling (v·255/(2^d−1), what every real decoder renders).
        16-bit samples are two-byte big-endian (bpp = 2·channels for
        filtering) and return a uint16 array — stats consumers upcast
        to int64 before summing."""
        b = bytes(payload)
        if b[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG container")
        off, idat = 8, []
        plte = None
        w = h = depth = ct = interlace = None
        while off + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[off : off + 4])
            typ = b[off + 4 : off + 8]
            data = b[off + 8 : off + 8 + ln]
            if typ == b"IHDR":
                if len(data) < 13:
                    raise ValueError("truncated IHDR")
                w, h, depth, ct, _, _, interlace = struct.unpack(
                    ">IIBBBBB", data[:13]
                )
            elif typ == b"PLTE":
                if ln % 3 or ln == 0:
                    raise ValueError("bad PLTE length")
                plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            off += 12 + ln  # length + type + data + crc
        if w is None or not idat:
            raise ValueError("PNG missing IHDR/IDAT")
        channels = {0: 1, 2: 3, 3: 1, 6: 4}.get(ct)
        sub_ok = ct in (0, 3) and depth in (1, 2, 4)
        wide_ok = ct in (0, 2, 6) and depth == 16
        if channels is None or (
            depth != 8 and not sub_ok and not wide_ok
        ) or interlace not in (0, 1):
            raise NotImplementedError(
                "pure-Python PNG decode covers 8/16-bit gray/RGB/RGBA, "
                "8-bit palette and 1/2/4-bit gray/palette, none/Adam7 "
                f"interlace only (depth={depth}, color={ct}, "
                f"interlace={interlace})"
            )
        if ct == 3 and plte is None:
            raise ValueError("palette PNG missing PLTE")
        out_ch = 3 if ct == 3 else channels
        if w * h * out_ch * (2 if depth == 16 else 1) > max_decode_bytes:
            # declared-dimensions cap: a zip bomb must not OOM the
            # executor before the scanline length check can run
            raise ValueError(f"PNG too large for pure-Python decode "
                             f"({w}x{h}x{out_ch})")

        def rbytes(width: int) -> int:
            return (width * channels * depth + 7) // 8

        bpp = max(1, channels * depth // 8)
        if interlace == 0:
            passes = [(0, 0, 1, 1, w, h)]
        else:
            passes = [
                (x0, y0, dx, dy,
                 (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)
                for x0, y0, dx, dy in _ADAM7
            ]
        need = sum(
            ph * (rbytes(pw) + 1) for *_, pw, ph in passes if pw and ph
        )
        # bounded inflate: never allocate beyond the declared scanline
        # bytes, whatever the deflate stream claims to expand to
        raw = zlib.decompressobj().decompress(b"".join(idat), need)
        if len(raw) < need:
            raise ValueError("truncated PNG scanline data")
        samples = np.zeros(
            (h, w) if channels == 1 else (h, w * channels),
            np.uint16 if depth == 16 else np.uint8,
        )
        pos = 0
        for x0, y0, dx, dy, pw, ph in passes:
            if pw == 0 or ph == 0:
                continue
            stride = rbytes(pw)
            rows = _png_unfilter(raw, pos, ph, stride, bpp)
            pos += ph * (stride + 1)
            if depth == 16:
                # two-byte big-endian samples; stride is byte-aligned
                # (16 bits) so the whole pass buffer views as >u2
                vals = (
                    np.frombuffer(bytes(rows), ">u2")
                    .reshape(ph, pw * channels)
                )
                if channels == 1:
                    samples[y0::dy, x0::dx] = vals
                else:
                    dest = samples.reshape(h, w, channels)
                    dest[y0::dy, x0::dx, :] = vals.reshape(
                        ph, pw, channels
                    )
            elif channels == 1:
                vals = _png_unpack(rows, ph, pw, depth)
                samples[y0::dy, x0::dx] = vals
            else:
                vals = (
                    np.frombuffer(bytes(rows), np.uint8)
                    .reshape(ph, stride)[:, : pw * channels]
                    .reshape(ph, pw, channels)
                )
                dest = samples.reshape(h, w, channels)
                dest[y0::dy, x0::dx, :] = vals
        if ct == 3:
            idx = samples.reshape(h, w)
            if int(idx.max(initial=0)) >= plte.shape[0]:
                raise ValueError("PNG palette index outside PLTE")
            return plte[idx].copy()
        if channels == 1:
            vals = samples.reshape(h, w, 1)
            if depth < 8:
                vals = (
                    vals.astype(np.uint16) * 255 // ((1 << depth) - 1)
                ).astype(np.uint8)
            return vals.copy()
        return samples.reshape(h, w, channels).copy()

    def _gif_walk(b: bytes):
        """Yield each image block as (w, h, color_table, lzw_payload,
        min_code); extensions skipped, local color tables honored."""
        if b[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF container")
        if len(b) < 13:
            raise ValueError("truncated GIF screen descriptor")
        packed = b[10]
        off = 13
        gct = None
        if packed & 0x80:
            n = 3 * (2 << (packed & 0x07))
            gct = b[off : off + n]
            off += n

        def skip_subblocks(o: int) -> int:
            while o < len(b) and b[o]:
                o += 1 + b[o]
            return o + 1  # past the terminator

        while off < len(b):
            tag = b[off]
            if tag == 0x21:  # extension: label + sub-blocks
                off = skip_subblocks(off + 2)
            elif tag == 0x2C:  # image descriptor
                _, _, w, h = struct.unpack("<HHHH", b[off + 1 : off + 9])
                ipacked = b[off + 9]
                off += 10
                ct = gct
                if ipacked & 0x80:  # local color table
                    n = 3 * (2 << (ipacked & 0x07))
                    ct = b[off : off + n]
                    off += n
                interlaced = bool(ipacked & 0x40)
                min_code = b[off]
                off += 1
                data = bytearray()
                while off < len(b) and b[off]:
                    ln = b[off]
                    data += b[off + 1 : off + 1 + ln]
                    off += 1 + ln
                off += 1  # block terminator
                yield w, h, ct, bytes(data), min_code, interlaced
            elif tag == 0x3B:
                return
            else:
                raise ValueError(f"bad GIF block tag {tag:#x}")

    def gif_frame_count(payload: bytes) -> int:
        """REAL frame count of a (possibly animated) GIF — the number
        of image descriptor blocks, from a header/block walk only."""
        return sum(1 for _ in _gif_walk(bytes(payload)))

    def _gif_frame_pixels(w, h, ct, data, min_code, interlaced=False):
        if ct is None:
            raise ValueError("GIF image without a color table")
        if w * h * 3 > max_decode_bytes:  # RGB output bytes
            raise ValueError(f"GIF too large for pure-Python decode "
                             f"({w}x{h})")
        indices = _gif_lzw(data, min_code, w * h)
        if len(indices) < w * h:
            raise ValueError("truncated GIF pixel data")
        pal = np.frombuffer(ct, np.uint8).reshape(-1, 3)
        idx = np.frombuffer(bytes(indices[: w * h]), np.uint8)
        if idx.max(initial=0) >= pal.shape[0]:
            raise ValueError("GIF index outside color table")
        px = pal[idx].reshape(h, w, 3)
        if interlaced:
            # GIF89a four-pass interlace: the data stream carries rows
            # 0,8,16… then 4,12… then 2,6,10… then 1,3,5… — scatter
            # the sequential rows back onto their display positions
            order = np.concatenate([
                np.arange(0, h, 8), np.arange(4, h, 8),
                np.arange(2, h, 4), np.arange(1, h, 2),
            ])
            out = np.empty_like(px)
            out[order] = px
            return out.copy()
        return px.copy()

    def gif(payload: bytes, frame: int = 0):
        for i, blk in enumerate(_gif_walk(bytes(payload))):
            if i == frame:
                return _gif_frame_pixels(*blk)
        raise ValueError(f"GIF has no frame {frame}")

    def gif_sample_frames(payload: bytes, every_n: int):
        """Single block walk: (n_frames, [(frame_idx, pixels), ...])
        for every ``every_n``-th frame — O(frames), not one re-walk
        per sampled frame."""
        decoded, n = [], 0
        for i, blk in enumerate(_gif_walk(bytes(payload))):
            n = i + 1
            if i % every_n == 0:
                decoded.append((i, _gif_frame_pixels(*blk)))
        return n, decoded

    gif.frame_count = gif_frame_count  # type: ignore[attr-defined]
    gif.sample_frames = gif_sample_frames  # type: ignore[attr-defined]

    # ---- JPEG: baseline sequential DCT (SOF0/SOF1), pure Python ----

    # zigzag scan order: position k in the entropy stream -> (row, col)
    _ZZ = [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
        (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
        (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
        (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
        (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
        (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
        (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
        (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
    ]
    _ZR = np.array([r for r, _ in _ZZ])
    _ZC = np.array([c for _, c in _ZZ])
    # orthonormal 8-point DCT-II basis: spatial = A.T @ coeffs @ A
    _A = np.array(
        [
            [
                (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
                * np.cos((2 * x + 1) * u * np.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )

    class _ProgressiveSOF(Exception):
        """Internal dispatch only: ``_jpeg_segments`` hit SOF2, so the
        payload is a progressive JPEG and must be re-walked by
        ``_jpeg_progressive`` (multi-scan structure). Never escapes
        ``jpeg`` — callers see pixels, ValueError or
        NotImplementedError like every other decoder."""

    class _ArithSOF(Exception):
        """Internal dispatch only: ``_jpeg_segments`` hit SOF9
        (extended sequential, arithmetic entropy coding) — re-walk
        via ``_jpeg_arith_sequential``."""

    class _ArithProgSOF(Exception):
        """Internal dispatch only: ``_jpeg_segments`` hit SOF10
        (progressive, arithmetic entropy coding) — re-walk via
        ``_jpeg_arith_progressive``."""

    def _parse_dqt(seg: bytes, qt: dict) -> None:
        # DQT segment body (possibly several tables); Pq=1 tables
        # carry 16-bit big-endian entries (the usual companion of
        # 12-bit sample precision)
        o = 0
        while o < len(seg):
            pq, tq = seg[o] >> 4, seg[o] & 15
            if pq == 0:
                tbl = seg[o + 1 : o + 65]
                if len(tbl) != 64:
                    raise ValueError("truncated DQT")
                qt[tq] = np.frombuffer(tbl, np.uint8).astype(np.int32)
                o += 65
            elif pq == 1:
                tbl = seg[o + 1 : o + 129]
                if len(tbl) != 128:
                    raise ValueError("truncated DQT")
                qt[tq] = np.frombuffer(tbl, ">u2").astype(np.int32)
                o += 129
            else:
                raise ValueError(f"bad DQT precision {pq}")

    def _parse_dht(seg: bytes, huff: dict) -> None:
        # DHT segment body (possibly several tables)
        o = 0
        while o < len(seg):
            if o + 17 > len(seg):
                raise ValueError("truncated DHT")
            tc, th = seg[o] >> 4, seg[o] & 15
            counts = seg[o + 1 : o + 17]
            total = sum(counts)
            vals = seg[o + 17 : o + 17 + total]
            if len(vals) != total:
                raise ValueError("truncated DHT")
            table: dict[tuple[int, int], int] = {}
            code = vi = 0
            for length in range(1, 17):
                for _ in range(counts[length - 1]):
                    table[(length, code)] = vals[vi]
                    vi += 1
                    code += 1
                if code > (1 << length):
                    raise ValueError("overfull Huffman table")
                code <<= 1
            huff[(tc, th)] = table
            o += 17 + total

    def _parse_sof(seg: bytes):
        # SOF segment body ->
        # (height, width, [(id, h, v, tq), ...], precision)
        if len(seg) < 6:
            raise ValueError("truncated SOF")
        prec = seg[0]
        hh, ww = struct.unpack(">HH", seg[1:5])
        nc = seg[5]
        if prec not in (8, 12):
            raise NotImplementedError(f"{prec}-bit JPEG precision")
        comps = []
        for ci in range(nc):
            base = 6 + 3 * ci
            if base + 3 > len(seg):
                raise ValueError("truncated SOF components")
            comps.append(
                (
                    seg[base],
                    seg[base + 1] >> 4,
                    seg[base + 1] & 15,
                    seg[base + 2],
                )
            )
        return (hh, ww, comps, prec)

    def _parse_dac(seg: bytes, cond: dict) -> None:
        """DAC segment (T.81 B.2.4.3): pairs of (class<<4 | table-id,
        conditioning value). DC (class 0): the value packs U<<4 | L
        with 0 <= L <= U <= 15 — the bounds classifying the previous
        DC difference into the five conditioning categories. AC
        (class 1): Kx in 1..63, the low/high spectral split for the
        shared magnitude-category bins."""
        if len(seg) % 2:
            raise ValueError("truncated DAC")
        for i in range(0, len(seg), 2):
            tcb, cs = seg[i], seg[i + 1]
            tc, tb = tcb >> 4, tcb & 15
            if tc not in (0, 1) or tb > 3:
                raise ValueError("bad DAC table spec")
            if tc == 0:
                lo, hi = cs & 15, cs >> 4
                if lo > hi:
                    raise ValueError("bad DAC DC conditioning")
                cond[(0, tb)] = (lo, hi)
            else:
                if not 1 <= cs <= 63:
                    raise ValueError("bad DAC AC conditioning")
                cond[(1, tb)] = cs

    def _parse_app14(seg: bytes):
        """Adobe APP14 color-transform flag, or None for a non-Adobe
        APP14. Body: 'Adobe' + version(2) + flags0(2) + flags1(2) +
        transform(1) — the byte that decides the color model of
        3-component (1=YCbCr, 0=RGB) and 4-component (2=YCCK, 0=CMYK)
        frames, which T.81 itself leaves undefined."""
        if seg[:5] == b"Adobe" and len(seg) >= 12:
            return seg[11]
        return None

    def _jpeg_segments(b: bytes):
        """Parse the marker stream up to (and including) SOS. Returns
        (qt, huff, frame, dri, scan_map, scan_start, adobe). Raises
        _ProgressiveSOF on SOF2 so ``jpeg`` re-dispatches the payload
        to the multi-scan progressive walk."""
        qt: dict[int, object] = {}
        huff: dict[tuple[int, int], dict] = {}
        frame = None
        dri = 0
        adobe = None
        jfif = False
        pos = 2
        while pos + 2 <= len(b):
            if b[pos] != 0xFF:
                raise ValueError("bad JPEG marker stream")
            marker = b[pos + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                pos += 2
                continue
            if marker == 0xD9:
                break
            if pos + 4 > len(b):
                raise ValueError("truncated JPEG segment header")
            (ln,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            seg = b[pos + 4 : pos + 2 + ln]
            if ln < 2 or len(seg) != ln - 2:
                raise ValueError("truncated JPEG segment")
            if marker == 0xDB:  # DQT
                _parse_dqt(seg, qt)
            elif marker == 0xC4:  # DHT
                _parse_dht(seg, huff)
            elif marker == 0xE0:  # APP0: JFIF presence
                jfif = jfif or seg[:5] == b"JFIF\x00"
            elif marker in (0xC0, 0xC1):  # baseline / extended seq.
                frame = _parse_sof(seg)
            elif marker == 0xC2:  # progressive: different scan walk
                raise _ProgressiveSOF()
            elif marker == 0xC9:  # arithmetic sequential: QM walk
                raise _ArithSOF()
            elif marker == 0xCA:  # arithmetic progressive: QM walk
                raise _ArithProgSOF()
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                            0xCB, 0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    "only sequential (SOF0/SOF1/SOF9) and "
                    "progressive (SOF2/SOF10) JPEG are decodable "
                    f"(got SOF marker {marker:#x})"
                )
            elif marker == 0xDD:  # DRI
                if len(seg) < 2:
                    raise ValueError("truncated DRI")
                (dri,) = struct.unpack(">H", seg[:2])
            elif marker == 0xEE:  # APP14: Adobe color transform
                adobe = _parse_app14(seg) if adobe is None else adobe
            elif marker == 0xDA:  # SOS: scan header then entropy data
                if not seg:
                    raise ValueError("truncated SOS")
                ns = seg[0]
                if len(seg) < 1 + 2 * ns:
                    raise ValueError("truncated SOS components")
                smap = [
                    (seg[1 + 2 * si], seg[2 + 2 * si] >> 4,
                     seg[2 + 2 * si] & 15)
                    for si in range(ns)
                ]
                if jfif and frame is not None and len(frame[2]) == 3:
                    # JFIF precedence over an Adobe transform for
                    # 3-component frames (libjpeg jdmaster rule)
                    adobe = None
                return qt, huff, frame, dri, smap, pos + 2 + ln, adobe
            # APPn / COM and anything else with a length: skipped
            pos += 2 + ln
        raise ValueError("JPEG missing SOS")

    def _make_entropy_reader(segs):
        """MSB-first reader over a destuffed, restart-split entropy
        stream (the output of ``_clean_scan``) — the shared machinery
        of the baseline and progressive decoders. Huffman symbols
        resolve through a 16-bit peek into a flat lookup table (one
        list index per SYMBOL instead of a dict probe per BIT) and the
        bit buffer refills eight bytes at a time; running out of bits
        mid-symbol reports what the raw stream held where more entropy
        data was needed (truncation / stray marker → ValueError).
        Returns ``(getbits, restart, huffdecode, receive_extend)``."""
        si = 0
        seg, term = segs[0]
        seglen = len(seg)
        pos = 0
        bitbuf = bitcnt = 0

        def _starve():
            if term[0] == "end":
                raise ValueError("truncated JPEG scan data")
            code = term[1] if term[0] == "marker" else 0xD0 + term[1]
            raise ValueError(f"unexpected marker {code:#x} in JPEG scan")

        def _refill(n: int) -> bool:
            """Top the buffer up to >= n bits from the current
            interval; False when the interval is exhausted first. The
            buffer is trimmed before growing so it never accumulates
            consumed high bits across a long scan."""
            nonlocal bitbuf, bitcnt, pos
            bitbuf &= (1 << bitcnt) - 1
            while bitcnt < n:
                take = min(8, seglen - pos)
                if take <= 0:
                    return False
                bitbuf = (bitbuf << (take * 8)) | int.from_bytes(
                    seg[pos : pos + take], "big"
                )
                pos += take
                bitcnt += take * 8
            return True

        def getbits(n: int) -> int:
            nonlocal bitcnt
            if bitcnt < n and not _refill(n):
                _starve()
            bitcnt -= n
            return (bitbuf >> bitcnt) & ((1 << n) - 1)

        def restart(m: int) -> None:
            nonlocal si, seg, term, seglen, pos, bitbuf, bitcnt
            # the interval must be exhausted up to byte-align padding
            # (< 8 unconsumed bits) and terminated by the expected
            # RSTn — the same two checks a raw-stream reader makes
            if 8 * (seglen - pos) + bitcnt >= 8 or term != (
                "rst",
                m & 7,
            ):
                raise ValueError("missing/mis-sequenced restart marker")
            si += 1
            seg, term = segs[si]
            seglen = len(seg)
            pos = 0
            bitbuf = bitcnt = 0

        def huffdecode(lv: list, ll: list) -> int:
            nonlocal bitcnt
            if bitcnt < 16:
                _refill(16)
            if bitcnt >= 16:
                pk = (bitbuf >> (bitcnt - 16)) & 0xFFFF
            else:
                # stream end: a short code may still fit — pad zeros
                # and let the matched length decide below
                pk = (bitbuf << (16 - bitcnt)) & 0xFFFF
            length = ll[pk]
            if length == 0 or length > bitcnt:
                if bitcnt < 16:
                    _starve()
                raise ValueError("invalid JPEG Huffman code")
            bitcnt -= length
            return lv[pk]

        def receive_extend(s: int) -> int:
            if s == 0:
                return 0
            v = getbits(s)
            return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

        return getbits, restart, huffdecode, receive_extend

    def _prog_frame_geometry(frame):
        """Validate an SOF2 frame and allocate the per-component
        zigzag coefficient accumulators every scan writes into.
        Returns ``(geom, coefs)``: ``geom[cid] = (niw, nih, hs, vs)``
        with (niw, nih) the NON-interleaved block grid
        (ceil(component dim / 8) — what a single-component scan
        covers) and ``geom["_mcu"] = (mcux, mcuy, hmax, vmax)``;
        ``coefs[cid]`` is the full MCU-padded (blocks_y, blocks_x, 64)
        int32 array in zigzag order."""
        hgt, wdt, comps, prec = frame
        if hgt == 0 or wdt == 0:
            raise ValueError("zero-dimension JPEG")
        nch = len(comps)
        if nch not in (1, 3, 4):
            raise NotImplementedError(f"{nch}-component JPEG")
        if wdt * hgt * nch * (2 if prec == 12 else 1) > max_decode_bytes:
            # x2 for 12-bit output, mirroring the baseline path's cap
            raise ValueError(
                f"JPEG too large for pure-Python decode ({wdt}x{hgt})"
            )
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        if not (1 <= hmax <= 4 and 1 <= vmax <= 4):
            raise ValueError("bad sampling factors")
        for _, hs, vs, _ in comps:
            if hs < 1 or vs < 1 or hmax % hs or vmax % vs:
                raise NotImplementedError(
                    "non-integer chroma subsampling ratio"
                )
        mcux = -(-wdt // (8 * hmax))
        mcuy = -(-hgt // (8 * vmax))
        geom: dict = {"_mcu": (mcux, mcuy, hmax, vmax)}
        coefs: dict = {}
        for cid, hs, vs, tq in comps:
            if cid in coefs:
                raise ValueError("duplicate component id")
            cw = -(-(wdt * hs) // hmax)
            ch = -(-(hgt * vs) // vmax)
            geom[cid] = (-(-cw // 8), -(-ch // 8), hs, vs)
            coefs[cid] = np.zeros((mcuy * vs, mcux * hs, 64), np.int32)
        return geom, coefs

    def _prog_scan(seg, segs, frame, geom, coefs, huff, dri):
        """Decode ONE progressive scan (T.81 §G.2) into the coefficient
        accumulators: a DC scan (Ss=0, optionally interleaved; first
        pass Huffman-codes point-transformed predictor diffs,
        refinement passes append one raw bit per block) or a
        single-component AC band scan over [Ss, Se] (first pass with
        EOB-run coding across blocks and ZRL, refinement pass with
        correction bits for every already-nonzero coefficient).
        Restart markers reset DC predictors AND the EOB run."""
        if not seg:
            raise ValueError("truncated SOS")
        ns = seg[0]
        if not 1 <= ns <= 4:
            raise ValueError("SOS component count out of range")
        if len(seg) < 4 + 2 * ns:
            raise ValueError("truncated SOS components")
        smap = [
            (seg[1 + 2 * si], seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 15)
            for si in range(ns)
        ]
        ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
        ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
        hgt, wdt, comps, prec = frame
        dc_cat_max = 11 if prec == 8 else 15
        comp_by_id = {c[0]: c for c in comps}
        for cs, _, _ in smap:
            if cs not in comp_by_id:
                raise ValueError("SOS names unknown component")
        if ah > 13 or al > 13:
            raise ValueError("bad successive-approximation bits")
        if ah != 0 and ah != al + 1:
            raise ValueError("non-contiguous successive approximation")
        mcux, mcuy, hmax, vmax = geom["_mcu"]
        getbits, restart, huffdecode, receive_extend = (
            _make_entropy_reader(segs)
        )

        if ss == 0:
            # ---- DC scan (first pass or refinement) ----
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            luts = {}
            if ah == 0:
                for cs, td, _ in smap:
                    if (0, td) not in huff:
                        raise ValueError("missing Huffman table")
                    luts[cs] = _huff_lut(
                        tuple(sorted(huff[(0, td)].items()))
                    )
            preds = {cs: 0 for cs, _, _ in smap}

            def dc_block(cof, cs):
                if ah == 0:
                    dcv, dcl = luts[cs]
                    s = huffdecode(dcv, dcl)
                    if s > dc_cat_max:
                        raise ValueError("DC category out of range")
                    preds[cs] += receive_extend(s)
                    cof[0] = preds[cs] << al
                elif getbits(1):
                    cof[0] |= 1 << al

            units = rst = 0
            if ns > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        if dri and units and units % dri == 0:
                            restart(rst)
                            rst = (rst + 1) & 7
                            for cs in preds:
                                preds[cs] = 0
                        for cs, _, _ in smap:
                            _, hs, vs, _ = comp_by_id[cs]
                            arr = coefs[cs]
                            for by in range(vs):
                                for bx in range(hs):
                                    dc_block(
                                        arr[my * vs + by, mx * hs + bx],
                                        cs,
                                    )
                        units += 1
            else:
                cs = smap[0][0]
                niw, nih, _, _ = geom[cs]
                arr = coefs[cs]
                for byi in range(nih):
                    for bxi in range(niw):
                        if dri and units and units % dri == 0:
                            restart(rst)
                            rst = (rst + 1) & 7
                            preds[cs] = 0
                        dc_block(arr[byi, bxi], cs)
                        units += 1
            return

        # ---- AC band scan: always single-component ----
        if ns != 1:
            raise ValueError("interleaved progressive AC scan")
        if se < ss or se > 63:
            raise ValueError("bad spectral selection band")
        cs, _, ta = smap[0]
        if (1, ta) not in huff:
            raise ValueError("missing Huffman table")
        acv, acl = _huff_lut(tuple(sorted(huff[(1, ta)].items())))
        niw, nih, _, _ = geom[cs]
        arr = coefs[cs]
        eobrun = 0
        p1 = 1 << al
        m1 = -1 << al

        def ac_first(cof):
            nonlocal eobrun
            if eobrun:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                rs = huffdecode(acv, acl)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:  # EOBn: run of end-of-band blocks
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += getbits(r)
                        return
                    k += 16  # ZRL
                else:
                    k += r
                    if k > se:
                        raise ValueError("AC run past band end")
                    cof[k] = receive_extend(s) << al
                    k += 1

        def ac_refine(cof):
            # the classic T.81 §G.2 / libjpeg-style refinement walk:
            # each symbol advances over zero-HISTORY coefficients
            # (emitting a correction bit for every nonzero one
            # passed), then either plants a new ±2^Al coefficient or
            # opens an EOB run whose tail still corrects the nonzero
            # coefficients left in this block
            nonlocal eobrun
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = huffdecode(acv, acl)
                    r, s = rs >> 4, rs & 15
                    val = 0
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += getbits(r)
                            break
                    else:
                        if s != 1:
                            raise ValueError(
                                "bad AC refinement magnitude"
                            )
                        val = p1 if getbits(1) else m1
                    while k <= se:
                        v = int(cof[k])
                        if v:
                            if getbits(1) and (v & p1) == 0:
                                cof[k] = v + (p1 if v >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val:
                        if k > se:
                            raise ValueError(
                                "AC refinement run past band end"
                            )
                        cof[k] = val
                    k += 1
            if eobrun:
                while k <= se:
                    v = int(cof[k])
                    if v and getbits(1) and (v & p1) == 0:
                        cof[k] = v + (p1 if v >= 0 else m1)
                    k += 1
                eobrun -= 1

        block = ac_first if ah == 0 else ac_refine
        units = rst = 0
        for byi in range(nih):
            for bxi in range(niw):
                if dri and units and units % dri == 0:
                    restart(rst)
                    rst = (rst + 1) & 7
                    eobrun = 0
                block(arr[byi, bxi])
                units += 1

    def _seq_scan(seg, segs, frame, geom, coefs, huff, dri):
        """Decode ONE baseline-SEQUENTIAL scan (full spectral band
        Ss=0/Se=63, Ah=Al=0) into the coefficient accumulators — the
        multi-scan sequential layout T.81 §B.2 allows, where each
        SOS covers a SUBSET of the frame's components (some encoders
        emit one scan per component). Interleaved (ns>1) scans walk
        MCUs of the scan's own components; a single-component scan
        walks that component's non-interleaved block grid. Restart
        markers reset the scan's DC predictors. Coefficients are
        stored UNquantized (the shared reconstruct step multiplies
        by the quantization table, exactly like progressive)."""
        if not seg:
            raise ValueError("truncated SOS")
        ns = seg[0]
        if not 1 <= ns <= 4:
            raise ValueError("SOS component count out of range")
        if len(seg) < 4 + 2 * ns:
            raise ValueError("truncated SOS components")
        smap = [
            (seg[1 + 2 * si], seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 15)
            for si in range(ns)
        ]
        ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
        ahal = seg[3 + 2 * ns]
        if ss != 0 or se != 63 or ahal != 0:
            raise ValueError("bad sequential scan header")
        hgt, wdt, comps, prec = frame
        dc_cat_max = 11 if prec == 8 else 15
        comp_by_id = {c[0]: c for c in comps}
        for cs, td, ta in smap:
            if cs not in comp_by_id:
                raise ValueError("SOS names unknown component")
            if (0, td) not in huff or (1, ta) not in huff:
                raise ValueError("missing Huffman table")
        mcux, mcuy, hmax, vmax = geom["_mcu"]
        getbits, restart, huffdecode, receive_extend = (
            _make_entropy_reader(segs)
        )
        luts = {
            key: _huff_lut(tuple(sorted(huff[key].items())))
            for cs, td, ta in smap
            for key in ((0, td), (1, ta))
        }
        preds = {cs: 0 for cs, _, _ in smap}

        def block(cof, cs, td, ta):
            dcv, dcl = luts[(0, td)]
            acv, acl = luts[(1, ta)]
            s = huffdecode(dcv, dcl)
            if s > dc_cat_max:
                raise ValueError("DC category out of range")
            preds[cs] += receive_extend(s)
            cof[0] = preds[cs]
            kk = 1
            while kk < 64:
                rs = huffdecode(acv, acl)
                r, s2 = rs >> 4, rs & 15
                if s2 == 0:
                    if r == 15:  # ZRL
                        kk += 16
                        continue
                    break  # EOB
                kk += r
                if kk > 63:
                    raise ValueError("AC run past block end")
                cof[kk] = receive_extend(s2)
                kk += 1

        units = rst = 0
        if ns > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and units and units % dri == 0:
                        restart(rst)
                        rst = (rst + 1) & 7
                        for cs in preds:
                            preds[cs] = 0
                    for cs, td, ta in smap:
                        _, hs, vs, _ = comp_by_id[cs]
                        arr = coefs[cs]
                        for by in range(vs):
                            for bx in range(hs):
                                block(
                                    arr[my * vs + by, mx * hs + bx],
                                    cs, td, ta,
                                )
                    units += 1
        else:
            cs, td, ta = smap[0]
            niw, nih, _, _ = geom[cs]
            arr = coefs[cs]
            for byi in range(nih):
                for bxi in range(niw):
                    if dri and units and units % dri == 0:
                        restart(rst)
                        rst = (rst + 1) & 7
                        preds[cs] = 0
                    block(arr[byi, bxi], cs, td, ta)
                    units += 1
        return {cs for cs, _, _ in smap}

    def _arith_scan(seg, segs, frame, geom, coefs, cond, dri):
        """Decode ONE arithmetic-coded SEQUENTIAL scan (T.81 F.2.4,
        SOF9 frames: full band Ss=0/Se=63, Ah=Al=0) into the
        coefficient accumulators — the mirror of ``_seq_scan`` with
        the Huffman entropy reader replaced by the Annex D QM coder
        (``operators/jpegarith.py``) and DAC conditioning parameters
        in place of DHT tables (defaults L=0/U=1, Kx=5 per F.1.4.4).
        Statistics areas reset at scan start and at every restart
        marker, and the QM decoder re-initializes per destuffed
        restart interval (the same ``_clean_scan`` segments — T.81
        arithmetic scans use the identical 0xFF00 byte stuffing).
        Truncation behaves per D.2.7: the decoder zero-feeds past the
        interval end, so a cut stream yields wrong coefficients
        rather than a raise — an inherent property of the format, not
        a laxness of this reader (structural violations still raise).
        Validated bit-exact against libjpeg-turbo's jdarith over
        randomized corpora in tests/test_jpeg_arith.py."""
        from . import jpegarith as _ja

        if not seg:
            raise ValueError("truncated SOS")
        ns = seg[0]
        if not 1 <= ns <= 4:
            raise ValueError("SOS component count out of range")
        if len(seg) < 4 + 2 * ns:
            raise ValueError("truncated SOS components")
        smap = [
            (seg[1 + 2 * si], seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 15)
            for si in range(ns)
        ]
        ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
        ahal = seg[3 + 2 * ns]
        if ss != 0 or se != 63 or ahal != 0:
            raise ValueError("bad sequential scan header")
        hgt, wdt, comps, prec = frame
        comp_by_id = {c[0]: c for c in comps}
        for cs, td, ta in smap:
            if cs not in comp_by_id:
                raise ValueError("SOS names unknown component")
            if td > 3 or ta > 3:
                raise ValueError("bad arithmetic conditioning id")
        mcux, mcuy, hmax, vmax = geom["_mcu"]
        dc_cond = {td: cond.get((0, td), (0, 1)) for _, td, _ in smap}
        ac_cond = {ta: cond.get((1, ta), 5) for _, _, ta in smap}
        state: dict = {}

        def fresh(iv: int) -> None:
            state["dec"] = _ja.QMDecoder(segs[iv][0])
            state["dc"] = {td: _ja.new_dc_stats() for td in dc_cond}
            state["ac"] = {ta: _ja.new_ac_stats() for ta in ac_cond}
            state["fixed"] = _ja.new_fixed_bin()
            state["pred"] = {cs: 0 for cs, _, _ in smap}
            state["ctx"] = {cs: 0 for cs, _, _ in smap}

        fresh(0)
        seg_i = 0

        def restart(m: int) -> None:
            nonlocal seg_i
            if segs[seg_i][1] != ("rst", m & 7):
                raise ValueError("missing/mis-sequenced restart marker")
            seg_i += 1
            fresh(seg_i)

        def block(cof, cs, td, ta):
            lo, hi = dc_cond[td]
            diff, nctx = _ja.decode_dc_diff(
                state["dec"], state["dc"][td], state["ctx"][cs], lo, hi
            )
            state["ctx"][cs] = nctx
            state["pred"][cs] += diff
            cof[0] = state["pred"][cs]
            _ja.decode_ac_block(
                state["dec"], state["ac"][ta], state["fixed"],
                ac_cond[ta], cof,
            )

        units = rst = 0
        if ns > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and units and units % dri == 0:
                        restart(rst)
                        rst = (rst + 1) & 7
                    for cs, td, ta in smap:
                        _, hs, vs, _ = comp_by_id[cs]
                        arr = coefs[cs]
                        for by in range(vs):
                            for bx in range(hs):
                                block(
                                    arr[my * vs + by, mx * hs + bx],
                                    cs, td, ta,
                                )
                    units += 1
        else:
            cs, td, ta = smap[0]
            niw, nih, _, _ = geom[cs]
            arr = coefs[cs]
            for byi in range(nih):
                for bxi in range(niw):
                    if dri and units and units % dri == 0:
                        restart(rst)
                        rst = (rst + 1) & 7
                    block(arr[byi, bxi], cs, td, ta)
                    units += 1
        return {cs for cs, _, _ in smap}

    def _arith_prog_scan(seg, segs, frame, geom, coefs, cond, dri):
        """Decode ONE arithmetic-coded PROGRESSIVE scan (T.81 G.2
        with Annex D entropy coding, SOF10 frames) into the
        coefficient accumulators — the QM twin of ``_prog_scan``:
        DC first passes reuse the sequential DC conditioning model on
        point-transformed diffs, DC refinements decode one fixed-bin
        bit per block, AC first passes band-limit the sequential AC
        model ([Ss, Se], values scaled by 2^Al), AC refinements run
        the correction-bit walk (``jpegarith.decode_ac_refine``).
        There are no EOB runs — end-of-band is a per-block adaptive
        decision. Statistics reset per scan and per restart interval.
        Validated bit-exact against libjpeg-turbo's jdarith over its
        full jpeg_simple_progression scan script
        (tests/test_jpeg_arith.py)."""
        from . import jpegarith as _ja

        if not seg:
            raise ValueError("truncated SOS")
        ns = seg[0]
        if not 1 <= ns <= 4:
            raise ValueError("SOS component count out of range")
        if len(seg) < 4 + 2 * ns:
            raise ValueError("truncated SOS components")
        smap = [
            (seg[1 + 2 * si], seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 15)
            for si in range(ns)
        ]
        ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
        ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
        hgt, wdt, comps, prec = frame
        comp_by_id = {c[0]: c for c in comps}
        for cs, td, ta in smap:
            if cs not in comp_by_id:
                raise ValueError("SOS names unknown component")
            if td > 3 or ta > 3:
                raise ValueError("bad arithmetic conditioning id")
        if ah > 13 or al > 13:
            raise ValueError("bad successive-approximation bits")
        if ah != 0 and ah != al + 1:
            raise ValueError("non-contiguous successive approximation")
        mcux, mcuy, hmax, vmax = geom["_mcu"]

        if ss == 0:
            # ---- DC scan (first pass or refinement) ----
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            dc_cond = {td: cond.get((0, td), (0, 1))
                       for _, td, _ in smap}
            state: dict = {}

            def fresh(iv: int) -> None:
                state["dec"] = _ja.QMDecoder(segs[iv][0])
                state["dc"] = {td: _ja.new_dc_stats()
                               for td in dc_cond}
                state["fixed"] = _ja.new_fixed_bin()
                state["pred"] = {cs: 0 for cs, _, _ in smap}
                state["ctx"] = {cs: 0 for cs, _, _ in smap}

            fresh(0)
            seg_i = 0

            def restart(m: int) -> None:
                nonlocal seg_i
                if segs[seg_i][1] != ("rst", m & 7):
                    raise ValueError(
                        "missing/mis-sequenced restart marker"
                    )
                seg_i += 1
                fresh(seg_i)

            def dc_block(cof, cs, td):
                if ah == 0:
                    lo, hi = dc_cond[td]
                    diff, nctx = _ja.decode_dc_diff(
                        state["dec"], state["dc"][td],
                        state["ctx"][cs], lo, hi,
                    )
                    state["ctx"][cs] = nctx
                    state["pred"][cs] += diff
                    cof[0] = state["pred"][cs] << al
                elif state["dec"].decode(state["fixed"], 0):
                    cof[0] |= 1 << al

            units = rst = 0
            if ns > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        if dri and units and units % dri == 0:
                            restart(rst)
                            rst = (rst + 1) & 7
                        for cs, td, _ in smap:
                            _, hs, vs, _ = comp_by_id[cs]
                            arr = coefs[cs]
                            for by in range(vs):
                                for bx in range(hs):
                                    dc_block(
                                        arr[my * vs + by,
                                            mx * hs + bx],
                                        cs, td,
                                    )
                        units += 1
            else:
                cs, td, _ = smap[0]
                niw, nih, _, _ = geom[cs]
                arr = coefs[cs]
                for byi in range(nih):
                    for bxi in range(niw):
                        if dri and units and units % dri == 0:
                            restart(rst)
                            rst = (rst + 1) & 7
                        dc_block(arr[byi, bxi], cs, td)
                        units += 1
            return

        # ---- AC band scan: always single-component ----
        if ns != 1:
            raise ValueError("interleaved progressive AC scan")
        if se < ss or se > 63:
            raise ValueError("bad spectral selection band")
        cs, _, ta = smap[0]
        kx = cond.get((1, ta), 5)
        niw, nih, _, _ = geom[cs]
        arr = coefs[cs]
        state2: dict = {}

        def fresh2(iv: int) -> None:
            state2["dec"] = _ja.QMDecoder(segs[iv][0])
            state2["ac"] = _ja.new_ac_stats()
            state2["fixed"] = _ja.new_fixed_bin()

        fresh2(0)
        seg_j = 0

        def restart2(m: int) -> None:
            nonlocal seg_j
            if segs[seg_j][1] != ("rst", m & 7):
                raise ValueError("missing/mis-sequenced restart marker")
            seg_j += 1
            fresh2(seg_j)

        units = rst = 0
        for byi in range(nih):
            for bxi in range(niw):
                if dri and units and units % dri == 0:
                    restart2(rst)
                    rst = (rst + 1) & 7
                if ah == 0:
                    _ja.decode_ac_block(
                        state2["dec"], state2["ac"], state2["fixed"],
                        kx, arr[byi, bxi], ss, se, al,
                    )
                else:
                    _ja.decode_ac_refine(
                        state2["dec"], state2["ac"], state2["fixed"],
                        arr[byi, bxi], ss, se, al,
                    )
                units += 1

    def _jpeg_arith_progressive(b: bytes):
        """Arithmetic-coded PROGRESSIVE JPEG (SOF10): the multi-scan
        accumulation walk of ``_jpeg_progressive`` with DAC
        conditioning and ``_arith_prog_scan`` decoding each SOS."""
        frame, geom, coefs, qt, adobe, _ = _multiscan_walk(
            b, (0xCA,), 1024,
            lambda seg, segs, frame, geom, coefs, huff, cond, dri:
                _arith_prog_scan(
                    seg, segs, frame, geom, coefs, cond, dri
                ),
        )
        return _prog_reconstruct(frame, geom, coefs, qt, adobe)

    _SOF_MARKERS = frozenset(
        (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
         0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
    )

    def _multiscan_walk(b: bytes, sof_markers, max_scans, on_scan):
        """THE shared multi-scan marker walk (T.81 §B.2) behind the
        Huffman multi-scan-sequential, Huffman progressive, and both
        arithmetic layouts — one copy of the SOI/segment/length
        parsing, DQT/DHT/DAC/DRI/APP0/APP14/SOS dispatch, and
        truncation checks, parameterized by the accepted SOF
        marker(s), the per-scan decode callback, and the scan-count
        cap (round-11 de-duplication of four near-identical loops).
        DAC segments are parsed in every layout (legal-but-inert junk
        under Huffman coding); a JFIF APP0 takes PRECEDENCE over an
        Adobe APP14 transform for three-component frames, mirroring
        libjpeg's jdmaster rule (a file carrying both decodes as
        YCbCr, not as the Adobe-declared RGB). Returns
        ``(frame, geom, coefs, qt, adobe, seen)``; ``seen`` is the
        union of the callback's per-scan component-id returns."""
        qt: dict[int, object] = {}
        huff: dict[tuple[int, int], dict] = {}
        cond: dict = {}
        frame = None
        geom = coefs = None
        dri = 0
        adobe = None
        jfif = False
        nscans = 0
        seen: set = set()
        pos = 2
        while pos + 2 <= len(b):
            if b[pos] != 0xFF:
                raise ValueError("bad JPEG marker stream")
            marker = b[pos + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                pos += 2
                continue
            if marker == 0xD9:
                break
            if pos + 4 > len(b):
                raise ValueError("truncated JPEG segment header")
            (ln,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            seg = b[pos + 4 : pos + 2 + ln]
            if ln < 2 or len(seg) != ln - 2:
                raise ValueError("truncated JPEG segment")
            if marker == 0xDB:
                _parse_dqt(seg, qt)
            elif marker == 0xC4:
                _parse_dht(seg, huff)
            elif marker == 0xCC:
                _parse_dac(seg, cond)
            elif marker in sof_markers:
                if frame is not None:
                    raise ValueError("multiple SOF segments")
                frame = _parse_sof(seg)
                geom, coefs = _prog_frame_geometry(frame)
            elif marker in _SOF_MARKERS:
                raise ValueError("conflicting SOF segments")
            elif marker == 0xDD:
                if len(seg) < 2:
                    raise ValueError("truncated DRI")
                (dri,) = struct.unpack(">H", seg[:2])
            elif marker == 0xE0:
                jfif = jfif or seg[:5] == b"JFIF\x00"
            elif marker == 0xEE:
                adobe = _parse_app14(seg) if adobe is None else adobe
            elif marker == 0xDA:
                if frame is None:
                    raise ValueError("JPEG scan before SOF")
                nscans += 1
                if nscans > max_scans:
                    raise ValueError("too many scans")
                segs, end = _clean_scan(b, pos + 2 + ln)
                got = on_scan(seg, segs, frame, geom, coefs, huff,
                              cond, dri)
                if got:
                    seen |= got
                pos = end
                continue
            pos += 2 + ln
        if frame is None:
            raise ValueError("JPEG missing SOF")
        if nscans == 0:
            raise ValueError("JPEG missing SOS")
        if jfif and len(frame[2]) == 3:
            adobe = None  # JFIF precedence (libjpeg jdmaster rule)
        return frame, geom, coefs, qt, adobe, seen

    def _jpeg_arith_sequential(b: bytes):
        """Arithmetic-coded extended-sequential JPEG (SOF9): the same
        accumulate-then-one-IDCT walk as the Huffman multi-scan path,
        with DAC segments supplying the QM conditioning and
        ``_arith_scan`` decoding each SOS. DHT segments, legal but
        meaningless in an arithmetic frame, are parsed and ignored.
        Covers interleaved and one-component-per-scan layouts,
        restart intervals, 8- and 12-bit precision, grayscale/YCbCr/
        Adobe CMYK-YCCK component counts (same ``_jpeg_color_out``
        contract as the Huffman paths)."""
        frame, geom, coefs, qt, adobe, seen = _multiscan_walk(
            b, (0xC9,), 64,
            lambda seg, segs, frame, geom, coefs, huff, cond, dri:
                _arith_scan(seg, segs, frame, geom, coefs, cond, dri),
        )
        missing = {c[0] for c in frame[2]} - seen
        if missing:
            raise ValueError(
                f"components {sorted(missing)} never scanned"
            )
        return _prog_reconstruct(frame, geom, coefs, qt, adobe)

    def _jpeg_multiscan_sequential(b: bytes):
        """Baseline/extended-sequential JPEG whose components arrive
        over SEVERAL scans (the first SOS covers fewer components
        than the frame declares): same marker walk as the
        progressive decoder, each scan decoded by ``_seq_scan`` into
        the shared coefficient accumulators, one vectorized
        dequantize+IDCT at EOI. Every frame component must appear in
        at least one scan."""
        frame, geom, coefs, qt, adobe, seen = _multiscan_walk(
            b, (0xC0, 0xC1), 64,  # <= one scan per component in spec
            lambda seg, segs, frame, geom, coefs, huff, cond, dri:
                _seq_scan(seg, segs, frame, geom, coefs, huff, dri),
        )
        missing = {c[0] for c in frame[2]} - seen
        if missing:
            raise ValueError(
                f"components {sorted(missing)} never scanned"
            )
        return _prog_reconstruct(frame, geom, coefs, qt, adobe)

    def _jpeg_color_out(full, nch, adobe, prec=8):
        """Assemble decoded component planes into the output array
        (pre round/clip) — shared by the baseline and progressive
        reconstructions. 3-component: BT.601 full-range YCbCr→RGB
        with chroma centered at 2^(prec−1) (128 for 8-bit, 2048 for
        12-bit — the coefficients are precision-independent, only the
        zero point scales), unless an Adobe APP14 transform=0
        declares the planes already RGB. 4-component (the Adobe CMYK
        family; T.81 defines no color model — the APP14 transform
        byte decides): transform 2 = YCCK (YCC→CMY through the same
        BT.601 equations, K untouched), 0/absent = CMYK planes stored
        directly. Either way the stored values follow Adobe's
        INVERTED-ink convention (stored = max − ink), so RGB =
        stored_component · stored_K / max, rounded half-up via
        floor(x+0.5) — the engine-portable form a SQL oracle mirrors
        bit-identically (np.round's half-even would drift at exact
        .5). The CMYK math is precision-generic (max = 2^prec − 1),
        so 12-bit four-component frames decode too (round 11;
        closed-form pinned in the suite — no real-world corpus or
        8-bit-reference precedent exists to cross-check against)."""
        if nch == 1:
            return full[0][..., np.newaxis]
        ctr = float(1 << (prec - 1))
        if nch == 3:
            if adobe == 0:
                return np.stack(full, axis=-1)
            y, cb, cr = full
            return np.stack(
                [
                    y + 1.402 * (cr - ctr),
                    y - 0.344136 * (cb - ctr) - 0.714136 * (cr - ctr),
                    y + 1.772 * (cb - ctr),
                ],
                axis=-1,
            )
        mx = float((1 << prec) - 1)
        if adobe == 2:  # YCCK
            y, cb, cr, k = full
            c = np.clip(y + 1.402 * (cr - ctr), 0.0, mx)
            m = np.clip(
                y - 0.344136 * (cb - ctr) - 0.714136 * (cr - ctr),
                0.0,
                mx,
            )
            ye = np.clip(y + 1.772 * (cb - ctr), 0.0, mx)
        elif adobe in (None, 0):  # CMYK stored directly
            c, m, ye, k = (np.clip(p, 0.0, mx) for p in full)
        else:
            raise NotImplementedError(
                f"Adobe color transform {adobe} for 4-component JPEG"
            )
        k = np.clip(k, 0.0, mx)
        return np.floor(
            np.stack([c * k, m * k, ye * k], axis=-1) / mx + 0.5
        )

    def _prog_reconstruct(frame, geom, coefs, qt, adobe=None):
        """Dequantize + IDCT + upsample + color-convert the
        accumulated coefficients ONCE, vectorized over every block
        (einsum over (blocks_y, blocks_x, 8, 8) — no per-block Python
        IDCT), mirroring the baseline decoder's output conventions
        exactly (replication upsampling, BT.601 full-range,
        round-clip-uint8; 12-bit grayscale shifts by 2048, clips to
        4095, returns uint16 like the baseline path; Adobe
        CMYK/YCCK via the shared ``_jpeg_color_out``)."""
        hgt, wdt, comps, prec = frame
        level = float(1 << (prec - 1))
        nch = len(comps)
        _, _, hmax, vmax = geom["_mcu"]
        full = []
        for cid, hs, vs, tq in comps:
            if tq not in qt:
                raise ValueError(f"missing quantization table {tq}")
            arr = coefs[cid]
            nbh, nbw = arr.shape[:2]
            deq = arr.astype(np.float64) * np.asarray(
                qt[tq], np.float64
            )[None, None, :]
            z = np.zeros((nbh, nbw, 8, 8))
            z[:, :, _ZR, _ZC] = deq
            px = np.einsum("ab,ijbc,cd->ijad", _A.T, z, _A) + level
            plane = px.transpose(0, 2, 1, 3).reshape(nbh * 8, nbw * 8)
            up = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
            full.append(up[:hgt, :wdt])
        out = _jpeg_color_out(full, nch, adobe, prec)
        return np.clip(np.round(out), 0, (1 << prec) - 1).astype(
            np.uint16 if prec == 12 else np.uint8
        )

    def _jpeg_progressive(b: bytes):
        """Progressive JPEG (SOF2, Huffman, 8-bit) pixel decode — the
        full multi-scan protocol of ITU-T T.81 Annex G: DC scans
        (optionally interleaved) and per-component AC band scans with
        spectral selection [Ss, Se] and successive approximation
        (Ah=0 first passes, Ah>0 refinement passes, EOB-run coding,
        ZRL and correction bits), tables redefinable between scans,
        restart markers honored. Every scan accumulates into
        per-component zigzag coefficient arrays; dequantize + IDCT +
        upsample + color conversion run once at EOI, vectorized over
        all blocks. Same strict-poison contract as the baseline path:
        truncation, bad band structure, Huffman errors and run
        overflows raise ValueError; the ARITHMETIC progressive twin
        (SOF10) decodes through _jpeg_arith_progressive (12-bit
        grayscale and color decode, mirroring the baseline path)."""
        frame, geom, coefs, qt, adobe, _ = _multiscan_walk(
            b, (0xC2,), 1024,  # adversarial scan-count bound
            lambda seg, segs, frame, geom, coefs, huff, cond, dri:
                _prog_scan(seg, segs, frame, geom, coefs, huff, dri),
        )
        return _prog_reconstruct(frame, geom, coefs, qt, adobe)

    def jpeg(payload: bytes):
        """Baseline sequential (SOF0/SOF1) AND progressive (SOF2)
        JPEG pixel decode, Huffman: grayscale -> (H, W, 1),
        YCbCr -> (H, W, 3) RGB (JFIF/BT.601 full-range),
        integer-ratio chroma subsampling (4:4:4 / 4:2:2 / 4:2:0)
        upsampled by replication, restart markers honored.
        Progressive payloads take the multi-scan accumulation path
        (_jpeg_progressive); SEQUENTIAL frames whose components
        arrive over several scans (one scan per component, partial
        interleaves) take _jpeg_multiscan_sequential — same
        accumulate-then-one-IDCT shape. 12-BIT precision is decoded
        for EVERY component layout — grayscale, YCbCr and CMYK,
        baseline AND progressive (16-bit DQT tables, DC categories to
        15, 2048 level shift, uint16 output — the medical/scientific
        shape); FOUR-COMPONENT Adobe CMYK/YCCK
        (APP14 transform flag, inverted-ink convention) decodes to
        RGB via ``_jpeg_color_out``; ARITHMETIC-coded frames re-walk
        through _jpeg_arith_sequential (SOF9) or
        _jpeg_arith_progressive (SOF10) — the T.81 Annex D QM coder;
        the lossless/differential SOF family stays behind
        NotImplementedError; truncation and spec violations raise
        ValueError (strict-poison, like the other decoders)."""
        b = bytes(payload)
        if b[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG container")
        try:
            qt, huff, frame, dri, smap, scan_start, adobe = (
                _jpeg_segments(b)
            )
        except _ProgressiveSOF:
            return _jpeg_progressive(b)
        except _ArithSOF:
            return _jpeg_arith_sequential(b)
        except _ArithProgSOF:
            return _jpeg_arith_progressive(b)
        if frame is None:
            raise ValueError("JPEG missing SOF")
        hgt, wdt, comps, prec = frame
        if hgt == 0 or wdt == 0:
            raise ValueError("zero-dimension JPEG")
        nch = len(comps)
        if nch not in (1, 3, 4):
            raise NotImplementedError(f"{nch}-component JPEG")
        if wdt * hgt * nch * (2 if prec == 12 else 1) > max_decode_bytes:
            raise ValueError(
                f"JPEG too large for pure-Python decode ({wdt}x{hgt})"
            )
        level = float(1 << (prec - 1))
        dc_cat_max = 11 if prec == 8 else 15
        max_sample = (1 << prec) - 1
        if len(smap) != nch:
            # sequential frame whose components arrive over several
            # scans: re-walk with the multi-scan accumulator
            return _jpeg_multiscan_sequential(b)
        comp_by_id = {c[0]: c for c in comps}
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        if not (1 <= hmax <= 4 and 1 <= vmax <= 4):
            raise ValueError("bad sampling factors")
        for _, hs, vs, _ in comps:
            if hs < 1 or vs < 1 or hmax % hs or vmax % vs:
                raise NotImplementedError(
                    "non-integer chroma subsampling ratio"
                )
        mcux = -(-wdt // (8 * hmax))
        mcuy = -(-hgt // (8 * vmax))

        # MSB-first reader over the entropy stream (shared with the
        # progressive decoder — see _make_entropy_reader)
        segs, _scan_end = _clean_scan(b, scan_start)
        getbits, restart, huffdecode, receive_extend = (
            _make_entropy_reader(segs)
        )

        def decode_block(dcv, dcl, acv, acl, q, pred):
            coef = np.zeros(64, np.int64)
            s = huffdecode(dcv, dcl)
            if s > dc_cat_max:
                raise ValueError("DC category out of range")
            pred += receive_extend(s)
            coef[0] = pred * int(q[0])
            kk = 1
            while kk < 64:
                rs = huffdecode(acv, acl)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:  # ZRL: sixteen zeros
                        kk += 16
                        continue
                    break  # EOB
                kk += r
                if kk > 63:
                    raise ValueError("AC run past block end")
                coef[kk] = receive_extend(s) * int(q[kk])
                kk += 1
            blk = np.zeros((8, 8))
            blk[_ZR, _ZC] = coef
            return _A.T @ blk @ _A + level, pred

        planes = []
        for cid, hs, vs, tq in comps:
            planes.append(
                np.zeros((mcuy * vs * 8, mcux * hs * 8))
            )
            if tq not in qt:
                raise ValueError(f"missing quantization table {tq}")
        for cs, td, ta in smap:
            if cs not in comp_by_id:
                raise ValueError("SOS names unknown component")
            if (0, td) not in huff or (1, ta) not in huff:
                raise ValueError("missing Huffman table")
        preds = {cs: 0 for cs, _, _ in smap}
        ci_by_id = {c[0]: i for i, c in enumerate(comps)}
        # flat 16-bit decode tables, one per referenced DHT (cached
        # across payloads sharing tables — a corpus re-using one DHT
        # pays the build once per executor)
        luts = {
            key: _huff_lut(tuple(sorted(huff[key].items())))
            for cs, td, ta in smap
            for key in ((0, td), (1, ta))
        }
        mcount = rst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and mcount and mcount % dri == 0:
                    restart(rst)
                    rst = (rst + 1) & 7
                    for cs in preds:
                        preds[cs] = 0
                for cs, td, ta in smap:
                    _, hs, vs, tq = comp_by_id[cs]
                    plane = planes[ci_by_id[cs]]
                    dcv, dcl = luts[(0, td)]
                    acv, acl = luts[(1, ta)]
                    for by in range(vs):
                        for bx in range(hs):
                            px, preds[cs] = decode_block(
                                dcv, dcl, acv, acl,
                                qt[tq], preds[cs],
                            )
                            plane[
                                (my * vs + by) * 8 : (my * vs + by + 1) * 8,
                                (mx * hs + bx) * 8 : (mx * hs + bx + 1) * 8,
                            ] = px
                mcount += 1

        full = []
        for (cid, hs, vs, tq), plane in zip(comps, planes):
            up = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
            full.append(up[:hgt, :wdt])
        out = _jpeg_color_out(full, nch, adobe, prec)
        return np.clip(np.round(out), 0, max_sample).astype(
            np.uint16 if prec == 12 else np.uint8
        )

    def _gif_lzw(data: bytes, min_code: int, limit: int) -> bytearray:
        """Variable-width LSB-first LZW (the GIF flavor): dictionary of
        index strings, clear/end codes, width grows at 2^width up to
        12 bits. Stops after ``limit`` emitted indices."""
        clear, end = 1 << min_code, (1 << min_code) + 1

        def fresh():
            return {i: bytes([i]) for i in range(clear)}

        table = fresh()
        width = min_code + 1
        next_code = end + 1
        out = bytearray()
        acc = nbits = 0
        prev: bytes | None = None
        for byte in data:
            acc |= byte << nbits
            nbits += 8
            while nbits >= width:
                code = acc & ((1 << width) - 1)
                acc >>= width
                nbits -= width
                if code == clear:
                    table, width = fresh(), min_code + 1
                    next_code, prev = end + 1, None
                    continue
                if code == end:
                    return out
                if prev is None:
                    if code not in table:
                        # same spec violation as the post-prev branch —
                        # normalize to ValueError, not a bare KeyError
                        raise ValueError(
                            f"GIF LZW code {code} outside table"
                        )
                    entry = table[code]
                elif code in table:
                    entry = table[code]
                    if next_code < 4096:
                        table[next_code] = prev + entry[:1]
                        next_code += 1
                elif code == next_code:  # the one legal unknown: KwKwK
                    entry = prev + prev[:1]
                    if next_code < 4096:
                        table[next_code] = entry
                        next_code += 1
                else:
                    # spec-invalid code beyond the table: real decoders
                    # reject; fabricating pixels here would surface as
                    # plausible-but-wrong stats instead of clean NULLs
                    raise ValueError(
                        f"GIF LZW code {code} outside table"
                    )
                out += entry
                prev = entry
                if len(out) >= limit:
                    return out
                if next_code == (1 << width) and width < 12:
                    width += 1
        return out

    return bmp, wav, png, gif, jpeg


def decode_bmp_pixels(payload: bytes):
    """See ``_make_content_decoders``: (H, W, 3) uint8 RGB pixels of an
    uncompressed 24-bit BMP."""
    return _make_content_decoders()[0](payload)


def decode_wav_samples(payload: bytes):
    """See ``_make_content_decoders``: (sample_rate, (n_frames,
    n_channels) int16 array) of a 16-bit PCM WAV."""
    return _make_content_decoders()[1](payload)


def decode_png_pixels(payload: bytes):
    """See ``_make_content_decoders``: (H, W, C) pixels (uint8, or
    uint16 for 16-bit depth) of a gray/RGB/RGBA/palette PNG at
    1/2/4/8/16-bit depth, none/Adam7 interlace — real zlib inflate +
    spec unfiltering, no codec library."""
    return _make_content_decoders()[2](payload)


def decode_gif_pixels(payload: bytes):
    """See ``_make_content_decoders``: (H, W, 3) uint8 RGB pixels of a
    non-interlaced GIF's first frame — real variable-width LZW decode
    plus color-table lookup, no codec library."""
    return _make_content_decoders()[3](payload)


def decode_jpeg_pixels(payload: bytes):
    """See ``_make_content_decoders``: uint8 pixels of a baseline
    sequential JPEG — real Huffman + dequantize + IDCT + chroma
    upsample + YCbCr→RGB, no codec library. Grayscale -> (H, W, 1),
    color -> (H, W, 3)."""
    return _make_content_decoders()[4](payload)


DECODED_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("n_units", LongType(), True),  # pixels | frames
        StructField("content_sum", LongType(), True),
        StructField("content_min", LongType(), True),
        StructField("content_max", LongType(), True),
        StructField("top_row_sum", LongType(), True),  # orientation pin
    ]
)


def _pixel_decoders() -> dict:
    """``{format: decoder}`` for the four image containers, built from
    ``_make_content_decoders``: the one decode table that
    ``extract_decoded_stats`` and ``resize_image_stats`` share. Every
    decoder returns an (H, W, C) ndarray; the dict of dynamic closures
    ships by value into the tasks."""
    bmp, _, png, gif, jpeg = _make_content_decoders()
    return {"bmp": bmp, "png": png, "gif": gif, "jpeg": jpeg}


def extract_decoded_stats(media: DataFrame) -> DataFrame:
    """Partition-parallel FULL-CONTENT decode over binary payloads for
    the uncompressed containers (24-bit BMP pixels, 16-bit PCM WAV
    samples) — the real thing, not a header skim: bytes are decoded to
    pixel/sample arrays inside ``mapInPandas`` (payloads never leave
    the task) and reduced to exact integer stats. ``top_row_sum`` is
    the decoded FIRST pixel row (NULL for audio) — it pins the
    bottom-up row flip, which a byte-order-insensitive sum would miss.
    PNG and GIF are decoded for real (zlib inflate + unfilter; LZW +
    palette). Unsupported variants or unparseable payloads yield NULL
    stats with the header format (poison files must not kill a
    corpus-scale job). Images decode through ``_pixel_decoders``."""
    decoders = _pixel_decoders()
    wav_core = _make_content_decoders()[1]
    header_core = _make_header_parser()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import zlib as _zlib

        import pandas as _pd

        def one(b: bytes) -> tuple:
            meta = header_core(b) or {}
            fmt = meta.get("format")
            try:
                if fmt in decoders:
                    px = decoders[fmt](b).astype("int64")
                    return (fmt, px.size, int(px.sum()), int(px.min()),
                            int(px.max()), int(px[0].sum()))
                if fmt == "wav":
                    _, s = wav_core(b)
                    s = s.astype("int64")
                    return (fmt, s.shape[0], int(s.sum()), int(s.min()),
                            int(s.max()), None)
            except (
                NotImplementedError,
                ValueError,
                IndexError,  # zero-pixel image: px[0] has no row
                KeyError,  # corrupt GIF LZW code outside the table
                _struct.error,
                _zlib.error,  # corrupt PNG deflate stream
            ):
                # struct.error belt-and-braces: the decoders normalize
                # known truncations to ValueError, but a crafted header
                # must never kill the task either way
                pass
            return (fmt, None, None, None, None, None)

        for pdf in it:
            stats = [one(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [s[0] for s in stats],
                    "n_units": [s[1] for s in stats],
                    "content_sum": [s[2] for s in stats],
                    "content_min": [s[3] for s in stats],
                    "content_max": [s[4] for s in stats],
                    "top_row_sum": [s[5] for s in stats],
                }
            )

    # spread (r15, guide §2.5): no-op when the payload frame already
    # has cluster parallelism; rescues 1-2-split local inputs
    return spread(media).mapInPandas(batches, DECODED_STATS_SCHEMA)


def extract_image_meta(media: DataFrame) -> DataFrame:
    """Partition-parallel metadata extraction over binary payloads.

    ``mapInPandas``: one Arrow batch in, one out — the payload column is
    dropped from the output so only small metadata crosses any shuffle.

    The batch function is deliberately self-contained (its own imports, no
    references to module globals): cloudpickle then ships it by value, so
    executors never need this package importable on their PYTHONPATH.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import pandas as _pd

        def fake_meta(payload: bytes) -> tuple[int, int, str]:
            h = _hl.sha256(payload).digest()
            return (
                64 + h[0] % 192,
                64 + h[1] % 192,
                ("jpeg", "png", "webp")[h[2] % 3],
            )

        for pdf in it:
            payloads = pdf["payload"]
            metas = [fake_meta(bytes(p)) for p in payloads]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": [
                        _hl.sha256(bytes(p)).hexdigest() for p in payloads
                    ],
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "format": [m[2] for m in metas],
                }
            )

    # NO spread here (r15, measured): this entry point is a header
    # SKIM — per-row work is microseconds, and spreading a 1-split
    # input means shuffling the full PAYLOAD bytes to save nothing
    # (guide §8: move heavy bytes only when the work justifies it;
    # multimodal_meta measured 0.49x with the spread)
    return media.mapInPandas(batches, IMAGE_META_SCHEMA)


MEDIA_HEADER_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
    ]
)


def extract_media_headers(media: DataFrame) -> DataFrame:
    """Partition-parallel REAL header parse over binary payloads: one
    Arrow batch in, header metadata out (payloads never leave the task).
    Unparseable payloads yield null fields, not failures — at corpus
    scale a poison file must not kill the job. The parse closure comes
    from ``_make_header_parser`` and ships by value (dynamic function),
    so executors still never need this package importable and the parser
    has a single source of truth."""
    parse_core = _make_header_parser()
    _fields = ("format", "width", "height", "sample_rate", "n_channels")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def parse(b: bytes) -> dict:
            meta = parse_core(b) or {}
            return {k: meta.get(k) for k in _fields}

        for pdf in it:
            metas = [parse(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "format": [m["format"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "sample_rate": [m["sample_rate"] for m in metas],
                    "n_channels": [m["n_channels"] for m in metas],
                }
            )

    # NO spread here (r15, measured): this entry point is a header
    # SKIM — per-row work is microseconds, and spreading a 1-split
    # input means shuffling the full PAYLOAD bytes to save nothing
    # (guide §8: move heavy bytes only when the work justifies it;
    # multimodal_meta measured 0.49x with the spread)
    return media.mapInPandas(batches, MEDIA_HEADER_SCHEMA)


def gif_frame_count(payload: bytes) -> int:
    """REAL frame count of a (possibly animated) GIF — image
    descriptor blocks from a block walk, no pixel decode."""
    return _make_content_decoders()[3].frame_count(payload)


GIF_FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("frame_idx", IntegerType(), True),
        StructField("frame_sum", LongType(), True),
    ]
)


def sample_gif_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video-style frame sampling — animated GIF is the one
    multi-frame container decodable dependency-free, so the sampling
    path runs end to end instead of stubbing the decode: per payload,
    count the frames (block walk only), take every ``every_n``-th, and
    FULLY DECODE each sampled frame (LZW + palette) to an exact pixel
    sum. One row per sampled frame; non-GIF or corrupt payloads yield
    one NULL row (poison-safe). Runs in ``mapInPandas`` with
    self-contained closures — payloads never leave the executor."""
    gif_core = _make_content_decoders()[3]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def rows(media_id: int, b: bytes):
            try:
                # one block walk counts AND decodes the sampled frames
                n, decoded = gif_core.sample_frames(b, every_n)
                return [
                    (media_id, n, fi, int(px.astype("int64").sum()))
                    for fi, px in decoded
                ] or [(media_id, n, None, None)]
            except Exception:  # noqa: BLE001 — poison-safe by contract
                return [(media_id, None, None, None)]

        for pdf in it:
            recs = [
                r
                for mid, p in zip(pdf["media_id"], pdf["payload"])
                for r in rows(int(mid), bytes(p))
            ]
            yield _pd.DataFrame(
                recs,
                columns=["media_id", "n_frames", "frame_idx", "frame_sum"],
            )

    # spread (r15, guide §2.5): no-op when the payload frame already
    # has cluster parallelism; rescues 1-2-split local inputs
    return spread(media).mapInPandas(batches, GIF_FRAME_SAMPLE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: the row-explosion plumbing (media_id →
    frame_idx rows) with the decode left as a stub column. Real frame
    extraction would replace the payload-derived fake frame count."""
    n_frames = (F.length("payload") % 240 + 1).cast("int")
    return (
        media.filter(F.col("media_type") == "video")
        .withColumn("n_frames", n_frames)
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


# --------------------------------------------------------------------------
# Synthesized fixture media with CLOSED-FORM decoded content.
#
# Each ``synthesize_*_media`` maps doc_ids to real container payloads
# whose decoded stats a SQL oracle recomputes from doc_id alone, so the
# decoders are checked against math, not against themselves. They all
# run through ``_synthesize``; the JPEG fixtures share one marker-segment
# writer and one Huffman bit packer.
# --------------------------------------------------------------------------


def _synthesize(docs: DataFrame, payload_fn) -> DataFrame:
    """One media row per document: ``payload_fn(doc_id) -> (payload,
    media_type)``, called executor-side inside ``mapInPandas`` (one
    Arrow batch per partition)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in it:
            rows = [payload_fn(int(d)) for d in pdf["doc_id"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [r[0] for r in rows],
                    "media_type": [r[1] for r in rows],
                }
            )

    # spread first (r15, guide §2.5): a small/packed documents table
    # arrives as 1-2 input splits, and the whole synthesize->decode
    # mapInPandas chain inherits that parallelism (measured: the six
    # decode legs ran on ONE task at sf0.1). At real scale the input
    # already has many splits and spread() is a no-op.
    return spread(docs.select("doc_id")).mapInPandas(
        batches, MEDIA_SCHEMA
    )


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    """One PNG chunk: length, type, data, CRC-32 of type + data."""
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data))
    )


def _seg(marker: int, body: bytes) -> bytes:
    """One JPEG marker segment: 0xFF, marker, length, body."""
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _put_dc(bits: list, d: int, cat_bits: int) -> None:
    """Huffman-code one DC diff ``d`` onto ``bits`` (MSB first): its
    magnitude category ``s`` as a fixed ``cat_bits``-wide code, then
    ``s`` extra bits (one's complement for negative diffs)."""
    s = abs(d).bit_length()
    v = d if d > 0 else d + (1 << s) - 1
    bits.extend((s >> i) & 1 for i in range(cat_bits - 1, -1, -1))
    bits.extend((v >> i) & 1 for i in range(s - 1, -1, -1))


def _pack_scan(bits: list) -> bytes:
    """Pack an entropy-coded bit list MSB first: the last byte is
    padded with 1-bits and every 0xFF byte is stuffed with 0x00."""
    bits = bits + [1] * ((-len(bits)) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for bit in bits[i : i + 8]:
            byte = (byte << 1) | bit
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    return bytes(out)


def _dc_tables(prec: int, q: int = 16) -> tuple[bytes, int]:
    """``(DQT + DC DHT segments, DC code width)`` of the DC-only
    Huffman fixtures: one flat ``q`` table (Pq=1 16-bit entries at
    12-bit precision) and DC categories 0..11 (8-bit) or 0..15
    (12-bit) as fixed 4- or 5-bit codes."""
    if prec == 8:
        dqt = _seg(0xDB, bytes([0]) + bytes([q] * 64))
        ncat, width = 12, 4
    else:
        dqt = _seg(0xDB, bytes([0x10]) + struct.pack(">H", q) * 64)
        ncat, width = 16, 5
    counts = [0] * 16
    counts[width - 1] = ncat
    dht_dc = _seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(range(ncat)))
    return dqt + dht_dc, width


def _dc_jpeg(
    dcs, prec: int = 8, q: int = 16, adobe: int | None = None
) -> bytes:
    """A 16×8 DC-only baseline (SOF0) JPEG with one component per entry
    of ``dcs`` (1 = grayscale, 3 = YCbCr, 4 = CMYK/YCCK), 1×1 sampling
    (two MCUs, one block per component each), one flat ``q`` table
    shared by all components and a genuinely Huffman-coded interleaved
    scan (AC: EOB as 1 bit). Plane ``i`` decodes uniformly to
    ``dcs[i]·q/8 + 2^(prec-1)``: ``128 + 2·dc`` at the defaults,
    ``2048 + 2·dc`` at ``prec=12``. ``adobe`` adds an Adobe APP14
    segment carrying that color-transform byte (0 = CMYK planes stored
    directly, 2 = YCCK)."""
    cids = range(1, len(dcs) + 1)
    tables, dc_bits = _dc_tables(prec, q)
    dht_ac = _seg(0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0]))
    sof = _seg(
        0xC0,
        bytes([prec]) + struct.pack(">HH", 8, 16) + bytes([len(dcs)])
        + b"".join(bytes([cid, 0x11, 0]) for cid in cids),
    )
    sos = _seg(
        0xDA,
        bytes([len(dcs)])
        + b"".join(bytes([cid, 0x00]) for cid in cids)
        + bytes([0, 63, 0]),
    )
    bits: list[int] = []
    for mcu in range(2):
        for dc in dcs:
            _put_dc(bits, dc if mcu == 0 else 0, dc_bits)  # diff vs pred
            bits.append(0)  # EOB
    app14 = b"" if adobe is None else _seg(
        0xEE, b"Adobe" + struct.pack(">HHH", 100, 0, 0) + bytes([adobe])
    )
    return (
        b"\xff\xd8" + app14 + tables + dht_ac + sof + sos
        + _pack_scan(bits) + b"\xff\xd9"
    )


def _make_progressive_dc_jpeg():
    """``prog_jpeg(dc, prec=8) -> bytes``: the progressive (SOF2) twin
    of the grayscale ``_dc_jpeg`` — same 16×8 DC-only content under a
    flat q=16 table, split into DC-first (Al=1) + DC-refinement (Al=0)
    + EOB-run AC scans. Decodes to uniform ``128 + 2·dc`` (``prec=12``:
    Pq=1 table, 5-bit DC categories, uniform ``2048 + 2·dc``)."""

    def prog_jpeg(dc: int, prec: int = 8) -> bytes:
        tables, dc_bits = _dc_tables(prec)
        dht_ac = _seg(
            0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x10])
        )
        sof = _seg(
            0xC2,
            bytes([prec]) + struct.pack(">HH", 8, 16)
            + bytes([1, 1, 0x11, 0]),
        )
        # scan 1 — DC first, Al=1: diffs of (dc >> 1) over two blocks
        b1: list = []
        for d in (dc >> 1, 0):
            _put_dc(b1, d, dc_bits)
        sos1 = _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
        # scan 2 — DC refinement, Ah=1 Al=0: one raw bit per block
        b2 = [dc & 1, dc & 1]
        sos2 = _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
        # scan 3 — AC first over [1, 63]: one EOB1 symbol (run of 2)
        b3: list = [0, 0]  # EOB1 code (1 bit) + 1 extension bit (0)
        sos3 = _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
        return (
            b"\xff\xd8" + tables + dht_ac + sof
            + sos1 + _pack_scan(b1)
            + sos2 + _pack_scan(b2)
            + sos3 + _pack_scan(b3)
            + b"\xff\xd9"
        )

    return prog_jpeg


def synthesize_decodable_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL containers for the full-decode path, by
    ``doc_id mod 3``: 0 → uncompressed 24-bit BMP (16×4, stored pixel
    bytes ``(doc_id·7 + i) mod 256`` in file order); 1 → 16-bit PCM
    mono WAV (128 samples ``((doc_id·13 + i·37) mod 65536) − 32768``);
    2 → zlib-COMPRESSED 8-bit RGB PNG (8×4, pixel bytes
    ``(doc_id·5 + i) mod 256`` in scanline order — the decode has to
    inflate and unfilter to recover them). Closed-form content means a
    SQL oracle recomputes the decoded stats independently — the
    decoder is checked against math, not against itself."""

    def bmp_payload(doc_id: int) -> bytes:
        w, h = 16, 4
        stride = (w * 3 + 3) // 4 * 4  # 48: no padding at w=16
        body = bytes(
            (doc_id * 7 + i) % 256 for i in range(stride * h)
        )
        header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII",
            40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0,
        )
        return header + dib + body

    def wav_payload(doc_id: int) -> bytes:
        data = b"".join(
            struct.pack(
                "<h", ((doc_id * 13 + i * 37) % 65536) - 32768
            )
            for i in range(128)
        )
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def png_payload(doc_id: int) -> bytes:
        w, h = 8, 4
        stride = w * 3
        rows = b"".join(
            b"\x00"  # filter type None per scanline
            + bytes(
                (doc_id * 5 + y * stride + x) % 256
                for x in range(stride)
            )
            for y in range(h)
        )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(rows))
            + _png_chunk(b"IEND", b"")
        )

    def payload(d: int) -> tuple[bytes, str]:
        if d % 3 == 1:
            return wav_payload(d), "audio"
        return (bmp_payload if d % 3 == 0 else png_payload)(d), "image"

    return _synthesize(docs, payload)


def synthesize_jpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL baseline JPEGs with CLOSED-FORM decoded
    content, for the oracle-checked decode path: per doc_id, a 16×8
    grayscale image whose every 8×8 block carries ONLY a DC
    coefficient ``dc = (doc_id·7) mod 100 − 50`` under a flat q=16
    quantization table. The IDCT of a DC-only block is uniform
    (dc·q/8 + 128 = 128 + 2·dc exactly), so a SQL oracle recomputes
    every decoded stat from doc_id alone — the Huffman+IDCT decoder is
    checked against math, not against itself. The entropy stream is
    genuinely Huffman-coded (custom canonical tables in the DHT
    segments), so the full marker-walk → bit-reader → Huffman →
    dequant → IDCT path runs for real."""

    def payload(d: int) -> tuple[bytes, str]:
        return _dc_jpeg([(d * 7) % 100 - 50]), "image"

    return _synthesize(docs, payload)


def _make_dc_jpeg_arith():
    """``dc_jpeg_arith(dcs, variant) -> bytes``: a 16×8 DC-only
    **arithmetic-coded** (SOF9) JPEG, QM-encoded for real by
    ``operators/jpegarith.py`` (T.81 Annex D encoder — output
    validated byte-exact under libjpeg-turbo's decoder in
    tests/test_jpeg_arith.py). Flat q=16 table, so plane ``i``
    decodes uniformly to ``128 + 2·dc_i`` — the same closed form as
    the Huffman DC-only fixtures, one SQL oracle fits all. Variants
    pin distinct decoder surfaces:

    * 0 — grayscale, single non-interleaved scan, NO DAC segment
      (pins the default conditioning L=0/U=1/Kx=5);
    * 1 — three-component interleaved scan with a NON-default DAC
      (U=2, Kx=9: pins DAC parsing — conditioning changes the coded
      bits, never the values);
    * 2 — three-component interleaved with DRI=1: a restart marker
      between the two MCUs (pins per-interval QM re-init + statistics
      reset; the re-coded DC diff after the predictor reset keeps the
      closed form unchanged);
    * 3 — three-component PROGRESSIVE (SOF10): DC-first at Al=1
      (point-transformed diffs), DC refinement at Al=0 (one fixed-bin
      bit per block), then one all-EOB AC-first scan per component —
      the reassembled DC ((dc>>1)<<1 | bit0) keeps the same closed
      form.
    """
    from . import jpegarith as _ja

    def _encode_mcus(ncomp: int, dcs, lo: int, hi: int, kx: int,
                     mcus) -> bytes:
        """One destuffed-interval encode: ``mcus`` lists, per MCU,
        the DC *diffs* per component (AC all zero)."""
        enc = _ja.QMEncoder()
        dc_stats = _ja.new_dc_stats()
        ac_stats = _ja.new_ac_stats()
        fixed = _ja.new_fixed_bin()
        zeros = [0] * 64
        ctxs = [0] * ncomp
        for diffs in mcus:
            for ci in range(ncomp):
                ctxs[ci] = _ja.encode_dc_diff(
                    enc, dc_stats, ctxs[ci], lo, hi, diffs[ci]
                )
                _ja.encode_ac_block(enc, ac_stats, fixed, kx, zeros)
        return enc.finish()

    def _progressive_arith(dcs) -> bytes:
        """Variant 3: the SOF10 three-scan-family fixture."""
        ncomp = 3
        cids = (1, 2, 3)
        dqt = _seg(0xDB, bytes([0]) + bytes([16] * 64))
        dac = _seg(0xCC, bytes([0x00, 0x10, 0x10, 5]))
        sof = _seg(
            0xCA,
            bytes([8]) + struct.pack(">HH", 8, 16) + bytes([ncomp])
            + b"".join(bytes([cid, 0x11, 0]) for cid in cids),
        )
        out = bytearray(b"\xff\xd8" + dqt + dac + sof)
        # scan 1: interleaved DC first, Al=1 — diffs of (dc >> 1)
        sos1 = _seg(
            0xDA,
            bytes([ncomp])
            + b"".join(bytes([cid, 0x00]) for cid in cids)
            + bytes([0, 0, 0x01]),
        )
        enc = _ja.QMEncoder()
        dc_stats = _ja.new_dc_stats()
        ctxs = [0] * ncomp
        for mcu in range(2):
            for ci in range(ncomp):
                diff = (dcs[ci] >> 1) if mcu == 0 else 0
                ctxs[ci] = _ja.encode_dc_diff(
                    enc, dc_stats, ctxs[ci], 0, 1, diff
                )
        out += sos1 + enc.finish()
        # scan 2: interleaved DC refinement, Ah=1/Al=0 — one
        # fixed-bin bit (bit 0 of the DC value) per block
        sos2 = _seg(
            0xDA,
            bytes([ncomp])
            + b"".join(bytes([cid, 0x00]) for cid in cids)
            + bytes([0, 0, 0x10]),
        )
        enc = _ja.QMEncoder()
        fixed = _ja.new_fixed_bin()
        for mcu in range(2):
            for ci in range(ncomp):
                enc.encode(fixed, 0, dcs[ci] & 1)
        out += sos2 + enc.finish()
        # scans 3-5: per-component AC first over [1, 63] — all EOB
        for cid in cids:
            sos = _seg(0xDA, bytes([1, cid, 0x00, 1, 63, 0x00]))
            enc = _ja.QMEncoder()
            ac_stats = _ja.new_ac_stats()
            for _blk in range(2):
                enc.encode(ac_stats, 0, 1)  # EOB at k=1
            out += sos + enc.finish()
        return bytes(out + b"\xff\xd9")

    def dc_jpeg_arith(dcs, variant: int) -> bytes:
        if variant == 3:
            return _progressive_arith(dcs)
        dqt = _seg(0xDB, bytes([0]) + bytes([16] * 64))
        if variant == 0:
            ncomp, lo, hi, kx = 1, 0, 1, 5
            dac = b""
            dri = b""
        elif variant == 1:
            ncomp, lo, hi, kx = 3, 0, 2, 9
            dac = _seg(0xCC, bytes([0x00, (hi << 4) | lo, 0x10, kx]))
            dri = b""
        else:
            ncomp, lo, hi, kx = 3, 0, 1, 5
            dac = _seg(0xCC, bytes([0x00, (hi << 4) | lo, 0x10, kx]))
            dri = _seg(0xDD, struct.pack(">H", 1))
        cids = list(range(1, ncomp + 1))
        sof = _seg(
            0xC9,
            bytes([8]) + struct.pack(">HH", 8, 16) + bytes([ncomp])
            + b"".join(bytes([cid, 0x11, 0]) for cid in cids),
        )
        sos = _seg(
            0xDA,
            bytes([ncomp])
            + b"".join(bytes([cid, 0x00]) for cid in cids)
            + bytes([0, 63, 0]),
        )
        diffs0 = [dcs[ci] for ci in range(ncomp)]
        rest = [0] * ncomp
        if variant == 2:
            # restart between the 16x8 frame's two MCUs: predictors
            # reset, so MCU 1 re-codes the full dc values as diffs
            ent = (
                _encode_mcus(ncomp, dcs, lo, hi, kx, [diffs0])
                + b"\xff\xd0"
                + _encode_mcus(ncomp, dcs, lo, hi, kx, [diffs0])
            )
        else:
            ent = _encode_mcus(
                ncomp, dcs, lo, hi, kx, [diffs0, rest]
            )
        return (
            b"\xff\xd8" + dqt + dac + dri + sof + sos + ent
            + b"\xff\xd9"
        )

    return dc_jpeg_arith


def synthesize_arith_jpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL arithmetic-coded (SOF9/SOF10) JPEGs with
    closed-form decoded content: per doc_id ``dc = (doc_id·7) mod
    100 − 50`` (every plane uniformly ``v = 128 + 2·dc``, zero chroma
    DCs for the color variants so RGB = (v, v, v) exactly — never
    near a rounding or clip boundary). ``doc_id mod 4`` picks the
    fixture variant (grayscale/defaults, color/non-default DAC,
    color/restart, color/PROGRESSIVE-with-refinement — see
    ``_make_dc_jpeg_arith``)."""
    dc_jpeg_arith = _make_dc_jpeg_arith()

    def payload(d: int) -> tuple[bytes, str]:
        dc = (d * 7) % 100 - 50
        return dc_jpeg_arith([dc, 0, 0], d % 4), "image"

    return _synthesize(docs, payload)


def synthesize_cmyk_jpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL 4-component Adobe JPEGs with closed-form
    decoded content: per doc_id four DC values
    ``dc_i = (doc_id·7 + 13·i) mod 100 − 50`` (plane_i uniformly
    ``128 + 2·dc_i``); even doc_ids carry APP14 transform **0**
    (CMYK planes stored directly), odd ones transform **2** (YCCK:
    first three planes go through BT.601 to inverted CMY). Both
    variants land in the same inverted-ink → RGB math
    (``_jpeg_color_out``), so one oracle covers the APP14 dispatch
    AND both transform paths."""

    def payload(d: int) -> tuple[bytes, str]:
        dcs = [(d * 7 + 13 * i) % 100 - 50 for i in range(4)]
        return _dc_jpeg(dcs, adobe=0 if d % 2 == 0 else 2), "image"

    return _synthesize(docs, payload)


def synthesize_jpeg12_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL 12-BIT grayscale JPEGs with closed-form
    decoded content: per doc_id a 16×8 image uniformly
    ``2048 + 2·dc`` with ``dc = (doc_id·11) mod 2000 − 1000`` —
    values almost all beyond what any 8-bit path could produce, so a
    precision regression cannot hide. ``doc_id mod 4``: 0 → BASELINE
    grayscale (``_dc_jpeg`` at prec=12), 1/3 → the PROGRESSIVE
    three-scan twin (``_make_progressive_dc_jpeg`` at prec=12), 2 →
    baseline THREE-COMPONENT 12-bit COLOR (``_dc_jpeg``, round 10)
    with zero chroma DCs, so Cb=Cr=2048 and RGB = (v, v, v)
    exactly — trivial chroma, but a wrong chroma center (the 8-bit
    128 instead of 2048) would shift every channel by thousands;
    n_units becomes 384 for the color rows. One closed-form oracle
    covers all three 12-bit decode paths."""
    prog_jpeg = _make_progressive_dc_jpeg()

    def payload(d: int) -> tuple[bytes, str]:
        dc = (d * 11) % 2000 - 1000
        if d % 4 == 0:
            return _dc_jpeg([dc], prec=12), "image"
        if d % 4 == 2:
            return _dc_jpeg([dc, 0, 0], prec=12), "image"
        return prog_jpeg(dc, prec=12), "image"

    return _synthesize(docs, payload)


def synthesize_bmp_wav_variant_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL containers for the round-9 BMP/WAV variant
    decode paths, by ``doc_id mod 2``:

    * 0 → PALETTED BMP, 8×4, stored bottom-up: LOGICAL raster
      position ``i`` carries palette index ``(doc_id·3 + i) mod 16``;
      color-table entry ``j`` decodes to RGB ``(10j, 5j, 3j)``.
      ``top_row_sum`` (logical row 0 = the LAST stored row) pins the
      bottom-up flip through the palette path. The CONTAINER rotates
      by ``doc_id mod 8`` over the SAME index raster (round 10):
      0/4 → uncompressed 8-bit, 2 → **BI_RLE8**, 6 → **BI_RLE4** —
      the RLE streams alternate absolute-mode and encoded-run rows,
      carry a content-neutral delta escape and end-of-line/bitmap
      escapes, and must decode to identical pixels, so the one
      closed-form oracle covers all three containers and any
      container-specific drift breaks the hash.
    * 1 → 32-bit IEEE-FLOAT mono WAV, 128 samples: sample ``i`` is
      the dyadic float ``k/32768`` with
      ``k = ((doc_id·13 + i·37) mod 65536) − 32768``, which the
      decoder's v·32768 convention returns as exactly ``k`` — the
      same closed form as the PCM arm of media_decode_stats, through
      the float path."""

    def bmp_rle_payload(d: int, bpp: int) -> bytes:
        """Same raster as ``bmp8_payload`` in a BI_RLE8 (bpp=8) or
        BI_RLE4 (bpp=4) container: even stored rows absolute-mode,
        odd rows encoded runs, a (0,0) delta escape opening stored
        row 1, EOL after every row, EOB at the end."""
        w, h = 8, 4
        pal = b"".join(
            bytes([3 * j, 5 * j, 10 * j, 0]) for j in range(16)
        )
        stream = bytearray()
        for r in range(h):  # stored order: bottom-up
            y = h - 1 - r  # logical row
            row = [(d * 3 + y * w + x) % 16 for x in range(w)]
            if r == 1:
                stream += bytes([0, 2, 0, 0])  # delta: no-op move
            if r % 2 == 0:  # absolute mode (count 8: word-aligned)
                if bpp == 8:
                    stream += bytes([0, 8]) + bytes(row)
                else:
                    stream += bytes([0, 8]) + bytes(
                        (row[i] << 4) | row[i + 1]
                        for i in range(0, 8, 2)
                    )
            else:  # encoded runs
                if bpp == 8:
                    for v in row:
                        stream += bytes([1, v])
                else:
                    for i in range(0, 8, 2):
                        stream += bytes(
                            [2, (row[i] << 4) | row[i + 1]]
                        )
            stream += bytes([0, 0])  # end of line
        stream += bytes([0, 1])  # end of bitmap
        body = bytes(stream)
        off = 54 + len(pal)
        header = b"BM" + struct.pack(
            "<IHHI", off + len(body), 0, 0, off
        )
        dib = struct.pack(
            "<IiiHHIIiiII",
            40, w, h, 1, bpp, 1 if bpp == 8 else 2,
            len(body), 2835, 2835, 16, 16,
        )
        return header + dib + pal + body

    def bmp8_payload(d: int) -> bytes:
        w, h = 8, 4
        pal = b"".join(
            bytes([3 * j, 5 * j, 10 * j, 0]) for j in range(16)
        )  # stored BGRA
        rows = []
        for y in range(h):
            rows.append(
                bytes((d * 3 + y * w + x) % 16 for x in range(w))
            )  # stride 8: already 4-byte aligned
        body = b"".join(reversed(rows))  # bottom-up storage
        off = 54 + len(pal)
        header = b"BM" + struct.pack(
            "<IHHI", off + len(body), 0, 0, off
        )
        dib = struct.pack(
            "<IiiHHIIiiII",
            40, w, h, 1, 8, 0, len(body), 2835, 2835, 16, 16,
        )
        return header + dib + pal + body

    def wavf_payload(d: int) -> bytes:
        data = b"".join(
            struct.pack(
                "<f",
                (((d * 13 + i * 37) % 65536) - 32768) / 32768.0,
            )
            for i in range(128)
        )
        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def payload(d: int) -> tuple[bytes, str]:
        if d % 2:
            return wavf_payload(d), "audio"
        if d % 8 == 2:
            return bmp_rle_payload(d, 8), "image"
        if d % 8 == 6:
            return bmp_rle_payload(d, 4), "image"
        return bmp8_payload(d), "image"

    return _synthesize(docs, payload)


def synthesize_png_variant_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL PNG/GIF VARIANT containers with CLOSED-FORM
    decoded content, by ``doc_id mod 5`` — the round-8 decode paths
    (palette, sub-byte depths, Adam7, GIF interlace) plus 16-bit,
    each in front of the SQL oracle so none can silently regress:

    * 0 → PALETTE PNG (8-bit PLTE indices), 8×4: raster index ``i``
      carries palette index ``(doc_id·3 + i) mod 16``; entry ``j``
      decodes to RGB ``(17j, 13j, 7j)``.
    * 1 → Adam7-INTERLACED 4-bit GRAY PNG, 9×5 (non-multiple size →
      partially-empty passes): raster sample ``(doc_id + i) mod 16``
      renders as ``sample·17`` (v·255/15). ``top_row_sum`` pins the
      de-interlace scatter — a sequential read would sum pass-order
      rows instead of display row 0.
    * 2 → 16-BIT gray PNG, 6×3: sample ``(doc_id·2654435761 +
      i·48271) mod 65536`` — values no 8-bit path can represent.
    * 3 → INTERLACED GIF, 12×9 (all four passes non-empty): color
      index ``(doc_id·5 + i) mod 8``; palette entry ``j`` decodes to
      ``(31j, 17j, 11j)``. The LZW stream carries rows in pass
      order; ``top_row_sum`` pins the scatter.
    * 4 → 1-BIT gray PNG, 10×4 (MSB-first packing with 6 pad bits
      per row): bit ``(doc_id + i) mod 2`` renders as ``bit·255``.

    PNG scanline filters cycle None/Sub/Up/Average/Paeth per row
    (independently per Adam7 pass), so every decode exercises real
    unfiltering, and the Adam7 stream proves per-pass filter resets."""

    ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    def pack_row(samples, depth):
        if depth == 8:
            return bytes(v & 0xFF for v in samples)
        if depth == 16:
            out = bytearray()
            for v in samples:
                out += int(v).to_bytes(2, "big")
            return bytes(out)
        per = 8 // depth
        out = bytearray()
        for i in range(0, len(samples), per):
            byte = 0
            for j, v in enumerate(samples[i : i + per]):
                byte |= (v & ((1 << depth) - 1)) << (
                    8 - depth * (j + 1)
                )
            out.append(byte)
        return bytes(out)

    def filt_row(ft, row, prev, bpp):
        """Spec-filter one packed scanline (inverse of decode)."""
        if ft == 0:
            return row
        up = prev if prev is not None else bytes(len(row))
        out = bytearray()
        for x in range(len(row)):
            a = row[x - bpp] if x >= bpp else 0
            b = up[x]
            c = up[x - bpp] if x >= bpp else 0
            if ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = (
                    a if pa <= pb and pa <= pc
                    else (b if pb <= pc else c)
                )
            out.append((row[x] - pred) & 0xFF)
        return bytes(out)

    def png_build(w, h, depth, ct, sample_at, palette=None,
                  interlace=0):
        """samples via sample_at(raster_index); filters cycle
        0..4 per emitted scanline."""
        ch = 3 if ct == 2 else 1
        bpp = max(1, ch * depth // 8)
        if interlace == 0:
            passes = [(0, 0, 1, 1)]
        else:
            passes = ADAM7
        raw, seq = bytearray(), 0
        for x0, y0, dx, dy in passes:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            prev = None
            for j in range(ph):
                y = y0 + j * dy
                flat = []
                for k in range(pw):
                    x = x0 + k * dx
                    flat.append(sample_at(y * w + x))
                row = pack_row(flat, depth)
                ft = seq % 5
                seq += 1
                raw += bytes([ft]) + filt_row(ft, row, prev, bpp)
                prev = row
        ihdr = struct.pack(
            ">IIBBBBB", w, h, depth, ct, 0, 0, interlace
        )
        body = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        if palette is not None:
            body += _png_chunk(
                b"PLTE", b"".join(bytes(c) for c in palette)
            )
        return (
            body + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b"")
        )

    def gif_lzw(indices, min_code):
        """Greedy-dictionary GIF-LZW encoder (variable width,
        LSB-first) — the decoder's exact inverse."""
        clear, end = 1 << min_code, (1 << min_code) + 1
        out_bits: list[int] = []
        width = min_code + 1

        def emit(code):
            for i in range(width):
                out_bits.append((code >> i) & 1)

        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        emit(clear)
        prev = b""
        for idx in indices:
            cur = prev + bytes([idx])
            if cur in table:
                prev = cur
                continue
            emit(table[prev])
            if next_code < 4096:
                table[cur] = next_code
                next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
            prev = bytes([idx])
        emit(table[prev])
        emit(end)
        data = bytearray()
        for i in range(0, len(out_bits), 8):
            byte = 0
            for j, bit in enumerate(out_bits[i : i + 8]):
                byte |= bit << j
            data.append(byte)
        return bytes(data)

    def gif_build(w, h, palette, indices, interlace):
        min_code = 3  # 8-entry table
        ct = b"".join(bytes(c) for c in palette)
        lzw = gif_lzw(indices, min_code)
        sub = b""
        for i in range(0, len(lzw), 255):
            blk = lzw[i : i + 255]
            sub += bytes([len(blk)]) + blk
        return (
            b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | 2, 0, 0)
            + ct
            + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
            + bytes([0x40 if interlace else 0, min_code])
            + sub + b"\x00" + b"\x3b"
        )

    def payload(d: int) -> bytes:
        k = d % 5
        if k == 0:
            pal = [(17 * j, 13 * j, 7 * j) for j in range(16)]
            return png_build(
                8, 4, 8, 3,
                lambda i: (d * 3 + i) % 16, palette=pal,
            )
        if k == 1:
            return png_build(
                9, 5, 4, 0, lambda i: (d + i) % 16, interlace=1
            )
        if k == 2:
            return png_build(
                6, 3, 16, 0,
                lambda i: (d * 2654435761 + i * 48271) % 65536,
            )
        if k == 3:
            w, h = 12, 9
            pal = [(31 * j, 17 * j, 11 * j) for j in range(8)]
            raster = [(d * 5 + i) % 8 for i in range(w * h)]
            # the stream carries rows in GIF89a pass order
            order = (
                list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2))
            )
            stream: list[int] = []
            for y in order:
                stream += raster[y * w : (y + 1) * w]
            return gif_build(w, h, pal, stream, interlace=True)
        return png_build(
            10, 4, 1, 0, lambda i: (d + i) % 2
        )

    return _synthesize(docs, lambda d: (payload(d), "image"))


def synthesize_progressive_jpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL progressive (SOF2) JPEGs with CLOSED-FORM
    decoded content, mirroring ``synthesize_jpeg_media``: per doc_id
    the same 16×8 grayscale DC-only image (``dc = (doc_id·7) mod 100
    − 50``, flat q=16 → uniform ``128 + 2·dc`` exactly), but emitted
    as a three-scan Annex G script — a DC first scan at Al=1
    (Huffman-coded point-transformed predictor diffs), a DC
    refinement bit scan at Al=0, and an AC first scan whose single
    EOB-run symbol covers both blocks — so the multi-scan
    accumulation, successive-approximation and EOB-run machinery of
    ``_jpeg_progressive`` runs for real against a SQL oracle computed
    from doc_id alone."""
    prog_jpeg = _make_progressive_dc_jpeg()

    def payload(d: int) -> tuple[bytes, str]:
        return prog_jpeg((d * 7) % 100 - 50), "image"

    return _synthesize(docs, payload)


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Test-fixture helper: a media table with real binary payloads (UTF-8
    document bytes) so the plumbing runs on actual data in this container."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("video"))
        .when(F.col("doc_id") % 3 == 1, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("media_type"),
    )


RESIZED_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("out_h", LongType(), True),
        StructField("out_w", LongType(), True),
        StructField("content_sum", LongType(), True),
        StructField("content_min", LongType(), True),
        StructField("content_max", LongType(), True),
        StructField("top_row_sum", LongType(), True),  # orientation pin
    ]
)


def resize_image_stats(media: DataFrame, factor: int = 2) -> DataFrame:
    """The RESIZE verb of the multimodal pipeline: decode each image
    payload (BMP/PNG/GIF/JPEG — the real decoders), box-downsample by
    an integer ``factor`` (each output value is the floor-mean of a
    factor×factor input block, per channel; H and W are cropped down
    to multiples of ``factor`` first, the standard convention), and
    reduce the RESIZED pixels to exact integer stats. Floor-mean keeps
    every value integral, so the whole resize is reproducible in exact
    arithmetic by a SQL oracle — no float filter kernels, no rounding
    modes to disagree on.

    Scale shape: Arrow-batched ``mapInPandas``; payloads never leave
    the executor task and the resize is one numpy reshape-sum per
    image. Poison payloads yield NULL stats with the header format
    (corpus jobs must survive crafted files)."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    decoders = _pixel_decoders()
    header_core = _make_header_parser()
    f = int(factor)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import zlib as _zlib

        import pandas as _pd

        def one(b: bytes) -> tuple:
            meta = header_core(b) or {}
            fmt = meta.get("format")
            try:
                if fmt in decoders:
                    px = decoders[fmt](b).astype("int64")
                    h2, w2 = px.shape[0] // f, px.shape[1] // f
                    if h2 == 0 or w2 == 0:
                        return (fmt, None, None, None, None, None, None)
                    c = px.shape[2]
                    rs = (
                        px[: h2 * f, : w2 * f]
                        .reshape(h2, f, w2, f, c)
                        .sum(axis=(1, 3))
                        // (f * f)
                    )
                    return (
                        fmt, h2, w2, int(rs.sum()), int(rs.min()),
                        int(rs.max()), int(rs[0].sum()),
                    )
            except (
                NotImplementedError,
                ValueError,
                IndexError,
                KeyError,
                _struct.error,
                _zlib.error,
            ):
                pass
            return (fmt, None, None, None, None, None, None)

        for pdf in it:
            stats = [one(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [s[0] for s in stats],
                    "out_h": [s[1] for s in stats],
                    "out_w": [s[2] for s in stats],
                    "content_sum": [s[3] for s in stats],
                    "content_min": [s[4] for s in stats],
                    "content_max": [s[5] for s in stats],
                    "top_row_sum": [s[6] for s in stats],
                }
            )

    # spread (r15, guide §2.5): no-op when the payload frame already
    # has cluster parallelism; rescues 1-2-split local inputs
    return spread(media).mapInPandas(batches, RESIZED_STATS_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("energy_sq", LongType(), True),
        StructField("peak_abs", LongType(), True),
        StructField("zero_crossings", LongType(), True),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """The FEATURE-EXTRACT verb for audio payloads: decode 16-bit PCM
    WAV samples (the real RIFF walk) and compute the classic integer
    time-domain features over channel 0 — total energy (Σ s², exact),
    peak amplitude (max |s|), and zero-crossing count (sign flips
    between consecutive samples, negative vs non-negative) — all in
    BIGINT arithmetic so a SQL oracle replays them bit-for-bit from
    the generating formulas. Non-WAV or poison payloads yield NULL
    features (corpus jobs must survive crafted files)."""
    _, wav_core, *_ = _make_content_decoders()
    header_core = _make_header_parser()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import pandas as _pd

        def one(b: bytes) -> tuple:
            meta = header_core(b) or {}
            if meta.get("format") != "wav":
                return (None, None, None, None)
            try:
                _, s = wav_core(b)
                ch0 = s[:, 0].astype("int64")
                if ch0.size == 0:
                    return (0, 0, None, None)
                neg = ch0 < 0
                return (
                    int(ch0.size),
                    int((ch0 * ch0).sum()),
                    int(abs(ch0).max()),
                    int((neg[1:] != neg[:-1]).sum()),
                )
            except (NotImplementedError, ValueError, _struct.error):
                return (None, None, None, None)

        for pdf in it:
            stats = [one(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": [s[0] for s in stats],
                    "energy_sq": [s[1] for s in stats],
                    "peak_abs": [s[2] for s in stats],
                    "zero_crossings": [s[3] for s in stats],
                }
            )

    # spread (r15, guide §2.5): no-op when the payload frame already
    # has cluster parallelism; rescues 1-2-split local inputs
    return spread(media).mapInPandas(batches, AUDIO_FEATURES_SCHEMA)


# --------------------------------------------------------------------------
# Video: AVI/MJPEG container plumbing + frame sampling.
#
# The container walk is REAL (RIFF chunk grammar, 'hdrl'/'avih'/'strl'
# headers, 'movi' frame chunks — the public AVI spec), and each sampled
# MJPEG frame runs through the real baseline-JPEG decoder above. The
# same typed-refusal discipline as the image codecs: structural damage
# raises ValueError; stats ops map poison payloads to NULL rows.
# --------------------------------------------------------------------------


def _make_avi_decoders():
    """(avi_info, avi_frames) closures, import-free of this module so
    mapInPandas tasks can carry them like the image decoders."""
    import struct

    def _expect(cond: bool, msg: str) -> None:
        if not cond:
            raise ValueError(msg)

    def _chunks(b: bytes, off: int, end: int):
        """Yield (fourcc, body_offset, body_size) of the RIFF chunks in
        [off, end); bodies pad to even offsets per the spec."""
        while off + 8 <= end:
            cc = b[off : off + 4]
            size = struct.unpack("<I", b[off + 4 : off + 8])[0]
            body = off + 8
            _expect(
                body + size <= end,
                f"AVI: chunk {cc!r} overruns its container",
            )
            yield cc, body, size
            off = body + size + (size & 1)

    def avi_info(payload: bytes) -> dict:
        b = payload
        _expect(
            len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI ",
            "not an AVI (RIFF/'AVI ') container",
        )
        end = min(len(b), 8 + struct.unpack("<I", b[4:8])[0])
        info = None
        streams: list = []
        for cc, o, n in _chunks(b, 12, end):
            if cc != b"LIST" or b[o : o + 4] != b"hdrl":
                continue
            for cc2, o2, n2 in _chunks(b, o + 4, o + n):
                if cc2 == b"avih":
                    _expect(n2 >= 40, "AVI: truncated avih header")
                    v = struct.unpack("<10I", b[o2 : o2 + 40])
                    info = {
                        "usec_per_frame": v[0],
                        "n_frames": v[4],
                        "n_streams": v[6],
                        "width": v[8],
                        "height": v[9],
                    }
                elif cc2 == b"LIST" and b[o2 : o2 + 4] == b"strl":
                    for cc3, o3, n3 in _chunks(b, o2 + 4, o2 + n2):
                        if cc3 == b"strh":
                            _expect(n3 >= 8, "AVI: truncated strh")
                            streams.append(
                                (
                                    b[o3 : o3 + 4].decode("ascii", "replace"),
                                    b[o3 + 4 : o3 + 8].decode(
                                        "ascii", "replace"
                                    ),
                                )
                            )
        _expect(info is not None, "AVI: missing avih header")
        info["streams"] = streams
        return info

    def avi_frames(payload: bytes):
        """Yield each compressed video frame chunk ('##dc'/'##db')
        of the 'movi' list, in stream order."""
        b = payload
        avi_info(b)  # validates the container grammar first
        end = min(len(b), 8 + struct.unpack("<I", b[4:8])[0])
        for cc, o, n in _chunks(b, 12, end):
            if cc == b"LIST" and b[o : o + 4] == b"movi":
                for cc2, o2, n2 in _chunks(b, o + 4, o + n):
                    if cc2[2:4] in (b"dc", b"db"):
                        yield bytes(b[o2 : o2 + n2])

    return avi_info, avi_frames


def avi_container_info(payload: bytes) -> dict:
    """Parsed AVI main header + stream fourccs (see _make_avi_decoders)."""
    return _make_avi_decoders()[0](payload)


def avi_frame_payloads(payload: bytes) -> list:
    """The compressed frame chunks of an AVI 'movi' list, in order."""
    return list(_make_avi_decoders()[1](payload))


VIDEO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("usec_per_frame", LongType(), True),
        StructField("codec", StringType(), True),
    ]
)


def extract_video_meta(media: DataFrame) -> DataFrame:
    """Header-level video metadata (frame count, dimensions, frame
    interval, first stream codec) from AVI payloads — the container
    walk only, no frame decode. Poison payloads yield NULL columns."""
    avi_info, _ = _make_avi_decoders()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def one(b: bytes) -> tuple:
            try:
                m = avi_info(b)
            except ValueError:
                return (None, None, None, None, None)
            codec = m["streams"][0][1] if m["streams"] else None
            return (
                m["n_frames"], m["width"], m["height"],
                m["usec_per_frame"], codec,
            )

        for pdf in it:
            stats = [one(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_frames": [s[0] for s in stats],
                    "width": [s[1] for s in stats],
                    "height": [s[2] for s in stats],
                    "usec_per_frame": [s[3] for s in stats],
                    "codec": [s[4] for s in stats],
                }
            )

    # NO spread here (r15, measured): this entry point is a header
    # SKIM — per-row work is microseconds, and spreading a 1-split
    # input means shuffling the full PAYLOAD bytes to save nothing
    # (guide §8: move heavy bytes only when the work justifies it;
    # multimodal_meta measured 0.49x with the spread)
    return media.mapInPandas(batches, VIDEO_META_SCHEMA)


VIDEO_FRAME_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", LongType(), True),
        StructField("frame_idx", LongType(), True),
        StructField("px_count", LongType(), True),
        StructField("px_sum", LongType(), True),
        StructField("px_min", LongType(), True),
        StructField("px_max", LongType(), True),
    ]
)


def sample_video_frame_stats(
    media: DataFrame, every_n: int = 2
) -> DataFrame:
    """FRAME SAMPLING with real decode: every ``every_n``-th MJPEG
    frame of each AVI payload is Huffman-decoded through the baseline
    JPEG path and reduced to exact integer pixel stats — one output
    row per sampled frame, exploded inside ``mapInPandas`` (payloads
    and pixels never leave the task; a row carries ~32 bytes out).
    This is the crawl-pipeline shape: sample → decode → featurize,
    costed by frames SAMPLED, not frames stored. A structurally
    damaged container yields one NULL row; a single undecodable frame
    NULLs only that frame's stats."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    _, avi_frames = _make_avi_decoders()
    jpeg_core = _make_content_decoders()[4]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def rows(media_id: int, b: bytes):
            try:
                frames = list(avi_frames(b))
            except ValueError:
                yield (media_id, None, None, None, None, None, None)
                return
            n = len(frames)
            for idx in range(0, n, every_n):
                try:
                    px = jpeg_core(frames[idx]).astype("int64")
                    yield (
                        media_id, n, idx, px.size, int(px.sum()),
                        int(px.min()), int(px.max()),
                    )
                except (NotImplementedError, ValueError, IndexError):
                    yield (media_id, n, idx, None, None, None, None)

        for pdf in it:
            out = [
                r
                for mid, p in zip(pdf["media_id"], pdf["payload"])
                for r in rows(int(mid), bytes(p))
            ]
            yield _pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_frames", "frame_idx", "px_count",
                    "px_sum", "px_min", "px_max",
                ],
            )

    # spread (r15, guide §2.5): no-op when the payload frame already
    # has cluster parallelism; rescues 1-2-split local inputs
    return spread(media).mapInPandas(batches, VIDEO_FRAME_STATS_SCHEMA)


def synthesize_mjpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL AVI/MJPEG videos with CLOSED-FORM frame
    content, for the oracle-checked frame-sampling path: per doc_id an
    AVI whose ``3 + doc_id % 4`` frames are the DC-only baseline JPEGs
    of ``synthesize_jpeg_media`` (frame f carries
    ``dc = (doc_id·7 + f·13) mod 100 − 50``, decoding to the uniform
    16×8 value ``128 + 2·dc`` exactly), wrapped in a spec-complete
    RIFF container (avih + strl/strh 'vids'/'MJPG' + strf + movi) the
    parser walks for real. A SQL oracle recomputes every sampled
    frame's stats from doc_id alone."""

    def chunk(cc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cc + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    def payload(doc_id: int) -> bytes:
        n = 3 + doc_id % 4
        frames = [
            _dc_jpeg([(doc_id * 7 + f * 13) % 100 - 50])
            for f in range(n)
        ]
        avih = chunk(
            b"avih",
            struct.pack(
                "<10I", 40000, 0, 0, 0, n, 0, 1, 0, 16, 8
            )
            + b"\x00" * 16,
        )
        strh = chunk(
            b"strh",
            b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 25, 0,
                          n, 0, 0, 0, 0),
        )
        strf = chunk(
            b"strf",
            struct.pack(
                "<IiiHH4sIiiII", 40, 16, 8, 1, 24, b"MJPG",
                16 * 8 * 3, 0, 0, 0, 0,
            ),
        )
        hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))
        movi = lst(
            b"movi", b"".join(chunk(b"00dc", f) for f in frames)
        )
        return chunk(b"RIFF", b"AVI " + hdrl + movi)

    return _synthesize(docs, lambda d: (payload(d), "video"))
