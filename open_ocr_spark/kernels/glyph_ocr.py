"""Bitmap-glyph OCR: the reference's literal image→text contract, run
in the pixel domain with a deterministic glyph engine.

tleyden/open-ocr's primary input is an IMAGE whose text the engine
recovers (tesseract_engine.go:98-128 — bytes to tmp file, OCR, text
out). The graft recast that flow as HTML extraction per the north_star,
but the pixel path itself is also real in this repo (PNG/JPEG/GIF/BMP
codecs in dataops/). This module closes the loop: text is RENDERED
into a raster with a fixed 5×7 glyph font (the writer twin, emitting a
real PNG through the repo's own encoder), and the OCR branch of the
extraction kernel recognizes it back by template matching over the
decoded pixels — segmentation into the glyph grid, per-cell bitmap
lookup, nearest-Hamming fallback, and a low-confidence error-as-value
when the image is not machine-rendered text (reference parity: feeding
Tesseract noise yields garbage; this engine declares it instead).

The font is SYNTHETIC: each supported character's 35-bit pattern is
generated from a fixed LCG, with an import-time pairwise Hamming-
distance assertion (min 6 measured) so recognition is unambiguous.
The point is the pixel pipeline — real encode, real decode, real
segmentation — not typography.

Scale shape: rendering and recognition are both per-document pure
functions inside the vectorized kernel batch (mapInArrow); no Python touches more than one Arrow batch at a time.
"""

from __future__ import annotations

GLYPH_W, GLYPH_H = 5, 7
CELL_W, CELL_H = GLYPH_W + 1, GLYPH_H + 1  # 1px gap right of / below glyph
ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,'-&"
_M31 = 2147483647


def _glyph_bits(ch: str) -> int:
    """Deterministic 35-bit glyph pattern; space is the blank cell."""
    if ch == " ":
        return 0
    state = (ord(ch) * 2654435761 + 40503) % _M31
    bits = 0
    for i in range(GLYPH_W * GLYPH_H):
        state = (state * 1103515245 + 12345) % _M31
        if (state >> 7) & 1:
            bits |= 1 << i
    # blank would collide with space; the LCG never produces it for the
    # supported alphabet (asserted below), but guard anyway
    return bits or 1


FONT = {ch: _glyph_bits(ch) for ch in ALPHABET}
_REVERSE = {bits: ch for ch, bits in FONT.items()}

# unambiguity guard: every pair of glyphs differs in >= 3 of 35 pixels
# (measured minimum over this alphabet: 6), so exact lookup never
# aliases and the nearest-Hamming fallback has a clear winner
_pairs_min = min(
    bin(a ^ b).count("1")
    for i, a in enumerate(FONT.values())
    for b in list(FONT.values())[i + 1:]
)
if len(_REVERSE) != len(FONT) or _pairs_min < 3:
    # explicit raise, not assert: the guard must survive `python -O` —
    # an aliased glyph table would corrupt OCR output silently
    raise RuntimeError(
        f"glyph font ambiguity: {len(FONT)} glyphs, {len(_REVERSE)} "
        f"distinct patterns, min pairwise Hamming {_pairs_min} (< 3)"
    )


def render_text_png(text: str, wrap: int = 96) -> bytes:
    """Writer twin: rasterize ``text`` (characters outside ALPHABET are
    dropped, lowercase is upcased) into a real truecolor PNG — black
    glyphs on white, 1px margins, ``wrap`` glyphs per line."""
    import numpy as np

    from open_ocr_spark.dataops.multimodal import encode_png

    clean = "".join(c for c in text.upper() if c in FONT)
    lines = [clean[i:i + wrap] for i in range(0, len(clean), wrap)] or [""]
    n_cols = max((len(ln) for ln in lines), default=0)
    w = 1 + max(n_cols, 1) * CELL_W
    h = 1 + len(lines) * CELL_H
    img = np.full((h, w, 3), 255, dtype=np.uint8)
    for r, ln in enumerate(lines):
        for c, ch in enumerate(ln):
            bits = FONT[ch]
            if not bits:
                continue
            y0, x0 = 1 + r * CELL_H, 1 + c * CELL_W
            for i in range(GLYPH_W * GLYPH_H):
                if (bits >> i) & 1:
                    img[y0 + i // GLYPH_W, x0 + i % GLYPH_W] = 0
    return encode_png(img)


def ocr_image(payload: bytes, max_unknown_frac: float = 0.2) -> str:
    """Recognize machine-rendered glyph text from ANY image format the
    repo decodes (PNG/JPEG/GIF/BMP/PPM): threshold to ink, segment into
    the 6×8 glyph grid, exact-match each cell's 35-bit pattern with a
    nearest-Hamming fallback (distance <= 2 — absorbs mild lossy-codec
    damage).  Raises ValueError when the geometry is not a glyph grid
    or more than ``max_unknown_frac`` of cells stay unrecognized —
    error-as-value one level up, like every other kernel branch."""
    import numpy as np

    from open_ocr_spark.dataops.multimodal import decode_pixels

    arr = decode_pixels(payload)
    if arr is None:
        raise ValueError("ocr: undecodable image format")
    h, w = arr.shape[:2]
    if h < 1 + CELL_H or w < 1 + CELL_W or (h - 1) % CELL_H or (w - 1) % CELL_W:
        raise ValueError(f"ocr: {w}x{h} is not a glyph grid")
    ink = arr.mean(axis=2) < 128
    n_lines, n_cols = (h - 1) // CELL_H, (w - 1) // CELL_W
    lines = []
    unknown = 0
    weights = 1 << np.arange(GLYPH_W * GLYPH_H, dtype=np.int64)
    for r in range(n_lines):
        chars = []
        for c in range(n_cols):
            y0, x0 = 1 + r * CELL_H, 1 + c * CELL_W
            cell = ink[y0:y0 + GLYPH_H, x0:x0 + GLYPH_W]
            bits = int((cell.reshape(-1) * weights).sum())
            ch = _REVERSE.get(bits)
            if ch is None:
                best, bd = None, 99
                for fbits, fch in _REVERSE.items():
                    d = bin(bits ^ fbits).count("1")
                    if d < bd:
                        best, bd = fch, d
                if bd <= 2:
                    ch = best
                else:
                    ch = "�"
                    unknown += 1
            chars.append(ch)
        lines.append("".join(chars))
    total = n_lines * n_cols
    if total and unknown / total > max_unknown_frac:
        raise ValueError(
            f"ocr: {unknown}/{total} cells unrecognized — "
            "not machine-rendered glyph text"
        )
    # wrap is a rendering artifact, not content: interior lines are full
    # width by construction, so only the LAST line can carry padding
    # cells — blank padding and genuine trailing spaces are one pixel
    # pattern, the classic OCR ambiguity, resolved in padding's favor
    lines[-1] = lines[-1].rstrip(" ")
    return "".join(lines)
