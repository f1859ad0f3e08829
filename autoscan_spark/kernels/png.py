"""Dependency-free baseline PNG codec (stdlib ``zlib`` + numpy).

Decoder: EVERY legal PNG bit depth and color type (spec §11.2.2), both
progressive (Adam7-interlaced) and not — gray at 1/2/4/8/16 bits, RGB /
gray+alpha / RGBA at 8/16, palette at 1/2/4/8 (incl. tRNS → RGBA) — with
full Sub/Up/Average/Paeth unfiltering (Up and Sub fully vectorized;
Average/Paeth walk pixels with all byte lanes vectorized) and per-chunk
CRC verification. PNG filters operate on BYTES regardless of depth, so
one unfilter kernel serves every depth; packed depths then unpack via
``np.unpackbits`` and 16-bit pairs recombine big-endian. Sub-8-bit gray
scales to the full 0-255 range with the exact integer factor
255/(2^d − 1) (what PIL's ``convert("L")`` does); 16-bit returns uint16.
Encoder: the same shapes/depths, any single filter type 0-4, optionally
Adam7 (the encoder exists so tests can roundtrip every unfilter,
interlace, and depth path without fixtures).

Remaining scope gate: none on depth/color/interlace. tRNS color-keying
on NON-palette images is ignored (alpha-key transparency on gray/RGB —
vanishingly rare in the wild). Corrupt streams (bad magic, bad CRC,
truncated chunks, inflate errors, short pixel data, illegal
depth/color combos) raise ``ValueError`` — the per-row error discipline
``operators.multimodal`` relies on, mirroring ``kernels.jpeg``.

Everything here derives from the public PNG spec (RFC 2083 / ISO 15948);
the reference repo has no image codec — this supports the multimodal
column operators only.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# color type → legal bit depths (PNG spec §11.2.2, table)
_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _stride_bytes(w: int, depth: int, channels: int) -> int:
    """Scanline payload bytes: pixels pack MSB-first, padded to a byte."""
    return (w * depth * channels + 7) // 8


def _rows_to_samples(rows: np.ndarray, w: int, depth: int, channels: int) -> np.ndarray:
    """(h, stride) unfiltered scanline bytes → (h, w, channels) samples
    (uint8 for depth <= 8, uint16 big-endian-recombined for 16)."""
    h = rows.shape[0]
    if depth == 8:
        return rows.reshape(h, w, channels)
    if depth == 16:
        b = rows.reshape(h, w, channels, 2).astype(np.uint16)
        return (b[..., 0] << 8) | b[..., 1]
    bits = np.unpackbits(rows, axis=1)[:, : w * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (
        (bits.reshape(h, w, depth) * weights)
        .sum(axis=2, dtype=np.uint16)
        .astype(np.uint8)
        .reshape(h, w, 1)
    )


def _samples_to_rows(sub: np.ndarray, depth: int) -> np.ndarray:
    """(h, w, channels) samples → (h, stride) scanline bytes (encoder
    inverse of ``_rows_to_samples``)."""
    h, w, ch = sub.shape
    if depth == 8:
        return np.ascontiguousarray(sub, dtype=np.uint8).reshape(h, w * ch)
    if depth == 16:
        return (
            np.ascontiguousarray(sub.astype(">u2"))
            .view(np.uint8)
            .reshape(h, w * ch * 2)
        )
    bits = (
        (sub.reshape(h, w).astype(np.uint8)[:, :, None]
         >> np.arange(depth - 1, -1, -1))
        & 1
    ).reshape(h, w * depth).astype(np.uint8)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.concatenate(
            [bits, np.zeros((h, pad), dtype=np.uint8)], axis=1
        )
    return np.packbits(bits, axis=1)


def _iter_chunks(payload: bytes):
    pos = len(_SIGNATURE)
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(payload):
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("PNG stream ended without IEND")


def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering → uint8 array (h, stride). ``bpp``
    is the FILTER distance in bytes — max(1, depth*channels/8), spec
    §9.2 — not the sample width; filters are byte-wise at every depth."""
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG pixel data {len(raw)}B != expected {h * (stride + 1)}B"
        )
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = int(lines[y, 0])
        row = lines[y, 1:]
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            out[y] = row
        elif ftype == 1:  # Sub — per-lane cumulative sum vectorizes it
            out[y] = np.cumsum(
                row.reshape(-1, bpp).astype(np.uint64), axis=0
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up — fully vectorized against the prior row
            out[y] = row + prev
        elif ftype == 3:  # Average — left-recurrence: plain-int list walk
            # The x-recurrence is inherently sequential and the lanes are
            # ≤ 4 bytes wide, so numpy can't help (per-slice call overhead
            # exceeds the work: measured 2× slower than THIS list walk,
            # which itself is ~2.7× faster than numpy scalar indexing —
            # ints avoid a uint8 box/unbox per access).
            row_l = row.tolist()
            prev_l = prev.tolist()
            cur_l = [0] * stride
            for i in range(stride):
                left = cur_l[i - bpp] if i >= bpp else 0
                cur_l[i] = (row_l[i] + ((left + prev_l[i]) >> 1)) & 0xFF
            out[y] = cur_l
        elif ftype == 4:  # Paeth — same list-walk rationale as Average
            row_l = row.tolist()
            prev_l = prev.tolist()
            cur_l = [0] * stride
            for i in range(stride):
                if i >= bpp:
                    a = cur_l[i - bpp]
                    c = prev_l[i - bpp]
                else:
                    a = 0
                    c = 0
                b = prev_l[i]
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur_l[i] = (row_l[i] + pred) & 0xFF
            out[y] = cur_l
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return out


# Adam7 pass geometry (PNG spec §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _deinterlace_adam7(
    raw: bytes, h: int, w: int, depth: int, channels: int
) -> np.ndarray:
    """Adam7: seven independently-filtered sub-images concatenated in the
    inflated stream; unfilter each with the shared scanline logic (each
    pass packs and pads its OWN scanlines at sub-8 depths), unpack to
    samples, then scatter into place with strided numpy assignment.
    Returns (h, w, channels) samples."""
    bpp = max(1, (depth * channels) // 8)
    out = np.zeros(
        (h, w, channels), dtype=np.uint16 if depth == 16 else np.uint8
    )
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue  # empty pass for small images (spec: no bytes at all)
        stride = _stride_bytes(pw, depth, channels)
        need = ph * (stride + 1)
        sub_raw = raw[pos : pos + need]
        if len(sub_raw) != need:
            raise ValueError(
                f"PNG Adam7 pass truncated: need {need}B, have {len(sub_raw)}B"
            )
        pos += need
        rows = _unfilter(sub_raw, ph, stride, bpp)
        out[y0::ys, x0::xs] = _rows_to_samples(rows, pw, depth, channels)
    if pos != len(raw):
        raise ValueError(
            f"PNG Adam7 stream has {len(raw) - pos} trailing bytes"
        )
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → array: (h, w) gray, (h, w, 2) gray+alpha, (h, w, 3)
    RGB, or (h, w, 4) RGBA (palette expands to RGB/RGBA). dtype uint8;
    16-bit-depth images return uint16. Sub-8-bit gray scales to 0-255
    with the exact factor 255/(2^d − 1)."""
    payload = bytes(payload)
    if payload[: len(_SIGNATURE)] != _SIGNATURE:
        raise ValueError("not a PNG payload")
    ihdr = None
    plte = trns = None
    idat = bytearray()
    for ctype, body in _iter_chunks(payload):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"tRNS":
            trns = body
        elif ctype == b"IDAT":
            idat.extend(body)
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError(f"bad IHDR compression/filter ({comp}/{filt})")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color not in _CHANNELS:
        raise ValueError(f"unknown PNG color type {color}")
    if depth not in _DEPTHS[color]:
        raise ValueError(
            f"illegal PNG depth/color combo ({depth}/{color})"
        )
    if w == 0 or h == 0:
        raise ValueError("zero-dimension PNG")
    channels = _CHANNELS[color]
    bpp = max(1, (depth * channels) // 8)
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    if interlace == 1:
        samples = _deinterlace_adam7(raw, h, w, depth, channels)
    else:
        stride = _stride_bytes(w, depth, channels)
        samples = _rows_to_samples(
            _unfilter(raw, h, stride, bpp), w, depth, channels
        )
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = samples.reshape(h, w)
        if int(idx.max()) >= len(pal):
            raise ValueError("PNG palette index out of range")
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if color == 0 and depth < 8:
        samples = samples * np.uint8(255 // ((1 << depth) - 1))
    if channels == 1:
        return samples.reshape(h, w)
    return samples


def _filter_row(row: np.ndarray, prev: np.ndarray, bpp: int, ftype: int) -> np.ndarray:
    left = np.zeros_like(row)
    left[bpp:] = row[:-bpp]
    if ftype == 0:
        return row
    if ftype == 1:
        return row - left
    if ftype == 2:
        return row - prev
    if ftype == 3:
        return row - ((left.astype(np.uint16) + prev.astype(np.uint16)) >> 1).astype(np.uint8)
    if ftype == 4:
        # no recurrence on the ENCODE side (the predictor reads original
        # pixels) — fully vectorizable across the row
        a = left.astype(np.int16)
        b = prev.astype(np.int16)
        c = np.zeros_like(b)
        c[bpp:] = b[:-bpp]
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        return row - pred.astype(np.uint8)
    raise ValueError(f"unknown PNG filter type {ftype}")


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _filter_image(img: np.ndarray, bpp: int, filter_type: int) -> bytearray:
    """One filtered scanline stream for a (sub-)image of shape (h, w*bpp)."""
    lines = bytearray()
    prev = np.zeros(img.shape[1], dtype=np.uint8)
    for y in range(img.shape[0]):
        lines.append(filter_type)
        lines.extend(_filter_row(img[y], prev, bpp, filter_type).tobytes())
        prev = img[y]
    return lines


def encode_png(
    arr: np.ndarray,
    filter_type: int = 0,
    level: int = 6,
    interlace: bool = False,
    depth: int | None = None,
    palette: bytes | None = None,
) -> bytes:
    """Array → PNG bytes at any legal depth (the decoder's full matrix).

    - uint8 arrays: (h, w) gray, (h, w, 2) gray+alpha, (h, w, 3) RGB,
      (h, w, 4) RGBA at depth 8 (default).
    - uint16 arrays (or ``depth=16``): the same shapes at depth 16.
    - ``depth`` in (1, 2, 4): (h, w) samples < 2^depth — packed gray, or
      packed PALETTE indices when ``palette`` (raw RGB triples for a
      PLTE chunk) is given; ``palette`` with depth 8 also emits color
      type 3.

    ``filter_type`` (0-4) applies one PNG filter to every scanline — the
    knob tests use to exercise each unfilter path. ``interlace=True``
    emits Adam7: seven sub-images, each filtered (and, at sub-8 depths,
    packed) independently (spec §8.2), concatenated into one IDAT."""
    arr = np.asarray(arr)
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"filter_type must be 0-4, got {filter_type}")
    if depth is None:
        depth = 16 if arr.dtype == np.uint16 else 8
    if palette is not None:
        if len(palette) % 3 != 0 or len(palette) == 0:
            raise ValueError("palette must be non-empty RGB triples")
        if depth not in (1, 2, 4, 8) or arr.ndim != 2:
            raise ValueError("palette PNG needs depth <= 8 and (h, w) indices")
        color = 3
    elif depth in (1, 2, 4):
        if arr.ndim != 2:
            raise ValueError(f"depth {depth} needs a (h, w) gray array")
        color = 0
    elif depth in (8, 16):
        if arr.ndim == 2:
            color = 0
        elif arr.ndim == 3 and arr.shape[2] in (2, 3, 4):
            color = {2: 4, 3: 2, 4: 6}[arr.shape[2]]
        else:
            raise ValueError(f"unsupported array shape {arr.shape}")
    else:
        raise ValueError(f"unsupported PNG depth {depth}")
    if depth < 8 and int(arr.max(initial=0)) >= (1 << depth):
        raise ValueError(f"sample out of range for depth {depth}")
    dtype = np.uint16 if depth == 16 else np.uint8
    channels = _CHANNELS[color]
    pix = np.ascontiguousarray(arr, dtype=dtype).reshape(
        arr.shape[0], arr.shape[1], channels
    )
    h, w = pix.shape[:2]
    bpp = max(1, (depth * channels) // 8)
    if interlace:
        lines = bytearray()
        for x0, y0, xs, ys in _ADAM7:
            sub = pix[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            lines.extend(
                _filter_image(
                    _samples_to_rows(np.ascontiguousarray(sub), depth),
                    bpp,
                    filter_type,
                )
            )
    else:
        lines = _filter_image(_samples_to_rows(pix, depth), bpp, filter_type)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, int(interlace))
    out = _SIGNATURE + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", bytes(palette))
    return (
        out
        + _chunk(b"IDAT", zlib.compress(bytes(lines), level))
        + _chunk(b"IEND", b"")
    )
