"""PNG encoder with per-scanline filters 0-4 (None, Sub, Up, Average, Paeth).

``dagli_spark.images.codec.encode_png`` writes filter 0 only, so the
flagship fixture never reaches the general defilter path that real-world
encoders trigger. This encoder picks each scanline's filter the way
libpng's default heuristic does: the filter whose output bytes, read as
signed, have the smallest absolute sum. Every filter is computed from the
original pixels, so the whole image vectorizes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_BPP = 3  # 8-bit RGB


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def filtered_rows(arr: np.ndarray) -> np.ndarray:
    """(5, h, 3w) uint8: every scanline under each of the five filters."""
    h, w, c = arr.shape
    if c != 3 or arr.dtype != np.uint8:
        raise ValueError("expected an (h, w, 3) uint8 image")
    x = arr.reshape(h, w * c).astype(np.int16)
    a = np.zeros_like(x)
    a[:, _BPP:] = x[:, :-_BPP]                 # left
    b = np.zeros_like(x)
    b[1:] = x[:-1]                             # up
    cc = np.zeros_like(x)
    cc[1:, _BPP:] = x[:-1, :-_BPP]             # up-left
    p = a + b - cc
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - cc)
    paeth = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc))
    out = np.stack([x, x - a, x - b, x - ((a + b) >> 1), x - paeth])
    return (out & 0xFF).astype(np.uint8)


def adaptive_filters(rows: np.ndarray) -> np.ndarray:
    """Per-scanline filter choice: minimum sum of |signed byte| (ties go
    to the lower filter type, as in libpng)."""
    cost = np.abs(rows.view(np.int8).astype(np.int32)).sum(axis=2)
    return cost.argmin(axis=0).astype(np.uint8)


def encode_png_filtered(arr: np.ndarray, filters=None) -> bytes:
    """8-bit RGB PNG. ``filters`` is one filter type per scanline, or a
    single type for every row; ``None`` chooses adaptively."""
    h, w, _ = arr.shape
    rows = filtered_rows(arr)
    if filters is None:
        ftype = adaptive_filters(rows)
    else:
        ftype = np.broadcast_to(np.asarray(filters, dtype=np.uint8), (h,))
        if ftype.max(initial=0) > 4:
            raise ValueError("PNG filter types are 0-4")
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = ftype
    raw[:, 1:] = rows[ftype, np.arange(h)]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
            + _chunk(b"IEND", b""))


def filter_types(png: bytes) -> np.ndarray:
    """The per-scanline filter bytes of a PNG this module wrote."""
    (ln,) = struct.unpack(">I", png[33:37])
    assert png[37:41] == b"IDAT"
    w, h = struct.unpack(">II", png[16:24])
    raw = np.frombuffer(zlib.decompress(png[41:41 + ln]), dtype=np.uint8)
    return raw.reshape(h, 1 + 3 * w)[:, 0]
