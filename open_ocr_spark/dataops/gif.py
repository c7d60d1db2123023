"""Pure-stdlib GIF codec (GIF87a/GIF89a, LZW).

Decoder: logical-screen composition of the FIRST frame — global and
local color tables, interlaced and sequential row order, transparent
pixels resolved to the background color, variable-width LZW with
deferred-clear handling.  Encoder: single-frame non-interlaced GIF89a
from any (h, w, 3) uint8 RGB array with at most 256 distinct colors
(palettized re-encode is exact, which is what makes GIF queries
oracle-checkable with closed-form SQL).  Spec: GIF89a specification
(CompuServe, 1990; W3C mirror) — no reference-repo code involved; the
reference (tleyden/open-ocr, docs/: image transport only) never decodes
pixels at all.

Scale note: this runs inside map_rows kernels (multimodal.py), one
Arrow batch per call, so the per-image Python cost is bounded by batch
shape, not table size; the table-level plan stays a single scan with no
shuffle.
"""

from __future__ import annotations

import struct


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate GIF data sub-blocks starting at ``pos``; return
    (payload, position after the 0x00 terminator)."""
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("gif: truncated sub-block stream")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(data):
            raise ValueError("gif: truncated sub-block")
        chunks.append(data[pos : pos + n])
        pos += n


def lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF-variant LZW: little-endian bit packing, CLEAR and EOI codes,
    code width grows after the table reaches 2**width (cap 12 bits)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError("gif: bad LZW minimum code size")
    clear = 1 << min_code_size
    eoi = clear + 1

    # table as (prefix_index, last_byte) pairs; roots have prefix -1
    prefix = list(range(clear + 2))
    suffix = bytearray(range(clear)) + b"\x00\x00"
    first = bytearray(range(clear)) + b"\x00\x00"  # first byte of entry

    out = bytearray()
    width = min_code_size + 1
    acc = bits = 0
    prev = -1
    pos = 0

    def entry_bytes(code: int) -> bytes:
        chain = bytearray()
        c = code
        while c >= clear + 2:
            chain.append(suffix[c])
            c = prefix[c]
        chain.append(suffix[c])
        chain.reverse()
        return bytes(chain)

    while len(out) < n_pixels:
        while bits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream ran out before EOI")
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        bits -= width

        if code == clear:
            prefix = list(range(clear + 2))
            suffix = bytearray(range(clear)) + b"\x00\x00"
            first = bytearray(range(clear)) + b"\x00\x00"
            width = min_code_size + 1
            prev = -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= len(prefix):
                raise ValueError("gif: first code not a root")
            out.extend(entry_bytes(code))
            prev = code
            continue
        if code < len(prefix):
            seq = entry_bytes(code)
        elif code == len(prefix):
            # KwKwK case: entry being defined right now
            seq = entry_bytes(prev) + bytes([first[prev]])
        else:
            raise ValueError("gif: LZW code out of range")
        out.extend(seq)
        if len(prefix) < 4096:
            # new entry = string(prev) + first byte of string(code)
            prefix.append(prev)
            suffix.append(seq[0])
            first.append(first[prev])
            if len(prefix) == (1 << width) and width < 12:
                width += 1
        prev = code
    return out[:n_pixels]


def lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (dict-of-tuples table, clear on overflow).
    Output round-trips exactly through ``lzw_decode``."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {(-1, i): i for i in range(clear)}
    next_code = clear + 2
    width = min_code_size + 1

    out = bytearray()
    acc = bits = 0

    def emit(code: int):
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    emit(clear)
    prev = -1
    for idx in indices:
        idx = int(idx)
        key = (prev, idx)
        if key in table:
            prev = table[key]
            continue
        emit(prev)
        table[key] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > 4095:
            emit(clear)
            table = {(-1, i): i for i in range(clear)}
            next_code = clear + 2
            width = min_code_size + 1
        prev = idx
    if prev >= 0:
        emit(prev)
    emit(eoi)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(height: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, height, step))
    return order


def decode_gif(data: bytes):
    """(h, w, 3) uint8 RGB of the first frame composed onto the logical
    screen.  Transparent pixels and uncovered screen area take the
    background color (the GCT background index, else black).  Raises
    ValueError on structural corruption; returns None only for payloads
    that are not GIF at all."""
    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    if len(data) < 13:
        raise ValueError("gif: truncated header")
    sw, sh, packed, bg_idx, _ = struct.unpack("<HHBBB", data[6:13])
    if sw <= 0 or sh <= 0:
        raise ValueError("gif: bad logical screen size")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("gif: truncated global color table")
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    transparent = -1
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer before any image
            raise ValueError("gif: no image data")
        if block == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("gif: truncated extension")
            label = data[pos]
            pos += 1
            body, pos = _sub_blocks(data, pos)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                if body[0] & 0x01:
                    transparent = body[3]
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unknown block 0x{block:02x}")

        # image descriptor
        if pos + 9 > len(data):
            raise ValueError("gif: truncated image descriptor")
        left, top, w, h, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if w <= 0 or h <= 0:
            raise ValueError("gif: bad frame size")
        palette = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(data):
                raise ValueError("gif: truncated local color table")
            palette = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("gif: frame with no color table")
        if pos >= len(data):
            raise ValueError("gif: missing LZW code size")
        mcs = data[pos]
        pos += 1
        lzw, pos = _sub_blocks(data, pos)
        idx = np.frombuffer(
            bytes(lzw_decode(lzw, mcs, w * h)), np.uint8
        )
        if len(idx) < w * h:
            raise ValueError("gif: frame pixel data short")
        if int(idx.max()) >= len(palette):
            raise ValueError("gif: pixel index outside color table")
        idx = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4-pass order
            rows = np.empty_like(idx)
            rows[_interlace_order(h)] = idx
            idx = rows

        bg = (palette[bg_idx] if gct is not None and bg_idx < len(gct)
              else np.zeros(3, np.uint8))
        screen = np.empty((sh, sw, 3), np.uint8)
        screen[:] = bg
        frame = palette[idx]
        if 0 <= transparent < len(palette):
            mask = idx == transparent
            frame = frame.copy()
            frame[mask] = bg
        y1, x1 = min(top + h, sh), min(left + w, sw)
        screen[top:y1, left:x1] = frame[: y1 - top, : x1 - left]
        return screen
    raise ValueError("gif: no image data")


def encode_gif(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> single-frame non-interlaced GIF89a.  The
    image must have at most 256 distinct colors (true for any decoded
    GIF, so GIF-in -> resize -> GIF-out is exact); raises ValueError
    otherwise rather than silently quantizing."""
    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    flat = arr.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(
            f"gif: {len(colors)} distinct colors (max 256; quantization "
            "needs a real imaging library)"
        )
    # palette size = power of two >= max(2, n); LZW mcs >= 2 per spec
    depth = max(1, (max(len(colors), 2) - 1).bit_length())
    n_pal = 1 << depth
    palette = np.zeros((n_pal, 3), np.uint8)
    palette[: len(colors)] = colors

    mcs = max(2, depth)
    lzw = lzw_encode(inverse.astype(np.int64), mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)

    head = b"GIF89a" + struct.pack(
        "<HHBBB", w, h, 0x80 | ((depth - 1) & 0x07), 0, 0
    )
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    return (
        head + palette.tobytes() + desc + bytes([mcs]) + bytes(blocks)
        + b"\x3b"
    )
