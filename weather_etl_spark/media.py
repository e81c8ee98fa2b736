"""Pure-python image codecs and the pixel hash of the multimodal rows.

The container has no image libraries, so the codecs are implemented
from the PUBLIC file-format specs: PPM P6 (netpbm header + raw RGB)
and uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up BGR rows,
4-byte row padding).

This module imports nothing from the engine.  The per-row generators
of ``operators/multimodal.py`` reference these functions by module
path, so a Python worker that unpickles one imports this module alone,
not the operator registry.
"""

from __future__ import annotations

import struct


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """PPM P6: ASCII header `P6\\n<w> <h>\\n255\\n` + raw RGB bytes."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): 54-byte header,
    rows stored bottom-up, each padded to a 4-byte boundary, BGR
    channel order."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    body = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up
        row = pixels[r * row_bytes : (r + 1) * row_bytes]
        # RGB -> BGR per pixel
        for p in range(0, row_bytes, 3):
            body += bytes((row[p + 2], row[p + 1], row[p]))
        body += b"\x00" * pad
    size = 54 + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return bytes(header) + bytes(body)


def decode_image(payload: bytes) -> tuple[str, int, int, bytes]:
    """Decode a PPM P6 or 24-bit BMP payload from its public spec.

    Returns ``(fmt, width, height, pixels)`` with pixels as top-down
    RGB bytes — BMP rows are un-padded, re-flipped, and BGR-swapped.
    Raises ValueError on anything else (fail-fast, reference A9 style).
    """
    if payload[:2] == b"P6":
        # header = magic, whitespace-separated width/height/maxval
        parts, i = [], 2
        while len(parts) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment line
                while payload[i : i + 1] not in (b"\n", b""):
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            parts.append(int(payload[i:j]))
            i = j
        i += 1  # single whitespace after maxval
        w, h, maxval = parts
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        pixels = payload[i : i + w * h * 3]
        if len(pixels) != w * h * 3:
            raise ValueError("truncated PPM pixel data")
        return ("ppm", w, h, pixels)
    if payload[:2] == b"BM":
        off = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if bpp != 24 or comp != 0 or h <= 0:
            raise ValueError("only uncompressed bottom-up 24-bit BMP")
        row_bytes = w * 3
        stride = row_bytes + ((-row_bytes) % 4)
        out = bytearray()
        for r in range(h):  # top-down output, bottom-up storage
            start = off + (h - 1 - r) * stride
            row = payload[start : start + row_bytes]
            for p in range(0, row_bytes, 3):  # BGR -> RGB
                out += bytes((row[p + 2], row[p + 1], row[p]))
        return ("bmp", w, h, bytes(out))
    raise ValueError(f"unknown image magic {payload[:2]!r}")


def doc_pixels(text_bytes: bytes, width: int, height: int) -> bytes:
    """Deterministic pixel buffer for a document: its own bytes,
    truncated / zero-padded to exactly width x height x 3."""
    npix = width * height * 3
    return (text_bytes[:npix] + b"\x00" * npix)[:npix]


def ahash16(width: int, height: int, pixels: bytes) -> int:
    """16-bit average-hash over a 4x4 block grid: per-block grayscale
    sum compared against the global mean by exact integer
    cross-multiplication (blk_sum * tot_n > tot_sum * blk_n), so no
    float ever enters the hash."""
    blk_sum = [0] * 16
    blk_n = [0] * 16
    for p in range(width * height):
        x, y = p % width, p // width
        g = pixels[3 * p] + pixels[3 * p + 1] + pixels[3 * p + 2]
        b = (y * 4 // height) * 4 + (x * 4 // width)
        blk_sum[b] += g
        blk_n[b] += 1
    tot_sum, tot_n = sum(blk_sum), width * height
    h = 0
    for i in range(16):
        if blk_sum[i] * tot_n > tot_sum * blk_n[i]:
            h |= 1 << i
    return h
