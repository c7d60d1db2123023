"""Multimodal column plumbing: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched kernels over map_rows.

Pixel decode is REAL for the formats stdlib+numpy can handle — PNG
(zlib IDAT + numpy unfiltering), baseline, progressive AND arithmetic
JPEG (dataops/jpeg.py, dataops/jpeg_arith.py), GIF87a/89a (LZW +
palettes + interlace, dataops/gif.py), uncompressed 24-bit BMP, binary
PPM — and so is header-level metadata (PNG/BMP/GIF/JPEG dims, WAV
fmt/data chunks). Video is demuxed for real down to the codec-sample
boundary: MP4 (dataops/mp4.py), webm/mkv (dataops/ebml.py) and AVI
(dataops/avi.py), whose MJPEG frames this repo's JPEG decoder turns into
pixels. Pixel decode of other video codecs (H.264/VP8/VP9/AV1) needs
ffmpeg and is out of scope: frame sampling emits their sample bytes.

Error contract (the engine's error-as-value rule, kernels/dispatch.py):
a payload that no parser recognizes, or whose parser raises ValueError,
gets the same row its operator gives a NULL payload — null fields, no
frames — and never fails the job. Nothing is invented in its place.

This mirrors how the reference treats its payloads: opaque bytes plus typed
metadata, routed by magic bytes (/root/reference/ocr_request.go:9,
tesseract_engine.go:130-148 treats ImgBytes as opaque until the engine).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.pipeline.stages import map_rows

MEDIA_SCHEMA = (
    "media_id long, payload binary, media_type string, meta map<string,string>"
)

FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, sha1 string, "
    "width int, height int, n_frames int, "
    "sample_rate int, n_channels int, duration_s double"
)

_MAGIC = (
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"BM", "image/bmp"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"\x1a\x45\xdf\xa3", "video/webm"),
)


def sniff_media_type(payload: bytes | None) -> str:
    if not payload:
        return "application/octet-stream"
    head = bytes(payload[:8])
    if head[4:8] == b"ftyp":  # ISO-BMFF: size(4) + 'ftyp' brand box
        return "video/mp4"
    if head.startswith(b"RIFF"):  # RIFF form type disambiguates at 8:12
        form = bytes(payload[8:12])
        if form == b"AVI ":
            return "video/x-msvideo"
        return "audio/wav" if form == b"WAVE" else "application/octet-stream"
    for magic, mtype in _MAGIC:
        if head.startswith(magic):
            if magic == b"BM":
                # 2-byte magic is too weak alone ('BMW dealers...' is not
                # a bitmap): require a known DIB header size at offset 14
                if len(payload) < 26 or int.from_bytes(
                    bytes(payload[14:18]), "little"
                ) not in (12, 40, 52, 56, 64, 108, 124):
                    continue
            return mtype
    return "application/octet-stream"


def _jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """JPEG dimensions by walking marker segments to the first SOFn frame
    header (height/width big-endian at offsets 5/7 of the segment body).
    Pure stdlib; None on truncated or marker-less streams."""
    import struct

    pos = 2  # past SOI
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            pos += 1  # padding/garbage: resync
            continue
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            pos += 2  # standalone markers have no length field
            continue
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        if seg_len < 2:
            return None
        # SOF0-SOF15 minus DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > n:
                return None
            h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
            return (w, h) if w > 0 and h > 0 else None
        pos += 2 + seg_len
    return None


def parse_audio_meta(payload: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_channels, duration_s) from a RIFF/WAVE header —
    walk chunks to 'fmt ' (rate/channels/block align) and 'data' (byte
    length). Pure stdlib; None for non-WAV or truncated payloads."""
    import struct

    data = bytes(payload)
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    rate = channels = block_align = data_len = None
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        # bound reads by the chunk's DECLARED size, not the file length:
        # a short fmt chunk (legacy 14-byte WAVEFORMAT) must not read the
        # next chunk's header bytes as its own fields
        if cid == b"fmt " and size >= 14 and pos + 8 + size <= n:
            channels, rate = struct.unpack("<HI", data[pos + 10 : pos + 16])
            block_align = struct.unpack("<H", data[pos + 20 : pos + 22])[0]
        elif cid == b"data":
            data_len = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not rate or not channels or not block_align or data_len is None:
        return None
    duration = round(data_len / (rate * block_align), 6)
    return rate, channels, duration


def decode_wav(payload: bytes):
    """(samples, rate) from a RIFF/WAVE PCM payload — REAL decode, pure
    stdlib+numpy: walks chunks to 'fmt ' and 'data', supports integer PCM
    (format 1) at 8 bits (unsigned, rebased to signed) or 16 bits
    (signed little-endian), any channel count; samples come back as an
    (n_frames, n_channels) int32 array. Returns None for non-WAV payloads
    and for valid-but-out-of-scope encodings (float/ADPCM/mu-law need no
    library, but they are not this engine's training-data path); raises
    ValueError when the data chunk overruns the payload."""
    import struct

    import numpy as np

    data = bytes(payload)
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, n = 12, len(data)
    fmt = None
    pcm = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if cid == b"fmt " and size >= 14 and pos + 8 + size <= n:
            # legacy WAVEFORMAT is 14 bytes (no wBitsPerSample); only read
            # bits from the chunk when the chunk declares room for it,
            # else derive from block_align — never read past the chunk
            audio_fmt, channels, rate = struct.unpack(
                "<HHI", data[pos + 8 : pos + 16]
            )
            block_align = struct.unpack("<H", data[pos + 20 : pos + 22])[0]
            if size >= 16:
                bits = struct.unpack("<H", data[pos + 22 : pos + 24])[0]
            elif channels:
                bits = (block_align // channels) * 8
            else:
                bits = 0
            fmt = (audio_fmt, channels, rate, bits)
        elif cid == b"data":
            if pos + 8 + size > n:
                raise ValueError("wav: data chunk overruns payload")
            pcm = data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    if fmt is None or pcm is None:
        return None
    audio_fmt, channels, rate, bits = fmt
    if audio_fmt != 1 or channels < 1 or rate < 1 or bits not in (8, 16):
        return None
    width = bits // 8
    frames = len(pcm) // (width * channels)
    pcm = pcm[: frames * width * channels]
    if bits == 8:
        arr = np.frombuffer(pcm, dtype=np.uint8).astype(np.int32) - 128
    else:
        arr = np.frombuffer(pcm, dtype="<i2").astype(np.int32)
    return arr.reshape(frames, channels), rate


def encode_wav(samples, rate: int = 8000) -> bytes:
    """(n_frames, n_channels) int16-range samples -> 16-bit PCM WAV bytes.
    Round-trips through decode_wav exactly."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    pcm = arr.astype("<i2").tobytes()
    block = 2 * channels
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


AUDIO_STATS_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_samples long, "
    "first_sample int, peak_amp int, sum_abs long"
)


def audio_stats(media: DataFrame) -> DataFrame:
    """REAL audio analysis over map_rows: decode PCM (decode_wav) and
    reduce to exact integer stats — frame count, first sample, peak
    amplitude, total absolute amplitude — the oracle-checkable slice of
    an audio training pipeline (silence/clipping gates run on exactly
    these reductions). Non-WAV, non-PCM and corrupt WAV payloads get
    null stats (rows are kept so joins see every media_id)."""

    def stats(media_id, payload):
        import numpy as np

        decoded = None
        if payload is not None and len(payload) > 0:
            try:
                decoded = decode_wav(bytes(payload))
            except ValueError:
                # structurally corrupt WAV (truncated data chunk, bad
                # sizes): null stats like any other non-PCM payload
                decoded = None
        if decoded is None:
            return [(media_id, None, None, None, None, None, None)]
        arr, rate = decoded
        amp = np.abs(arr)
        return [(
            media_id, rate, arr.shape[1], arr.shape[0],
            int(arr[0, 0]) if arr.size else None,
            int(amp.max()) if arr.size else None,
            int(amp.sum()) if arr.size else None,
        )]

    return map_rows(
        media.select("media_id", "payload"), AUDIO_STATS_SCHEMA, stats
    )


def parse_image_dims(payload: bytes) -> tuple[int, int] | None:
    """TRUE pixel dimensions from stdlib-parsable container headers —
    PNG (IHDR: big-endian u32 pair at offset 16), BMP (BITMAPINFOHEADER:
    little-endian i32 pair at offset 18; height may be negative for
    top-down rows), GIF (little-endian u16 pair at offset 6) and JPEG
    (marker walk to the first SOFn frame header). Returns None for
    formats whose dimensions genuinely need a decoder (video) or for
    truncated/invalid headers."""
    import struct

    payload = bytes(payload)
    if payload[:3] == b"\xff\xd8\xff":
        return _jpeg_dims(payload)
    head = payload[:32]
    if head.startswith(b"\x89PNG\r\n\x1a\n") and len(head) >= 24:
        if head[12:16] == b"IHDR":
            w, h = struct.unpack(">II", head[16:24])
            return (w, h) if 0 < w and 0 < h else None
    if head.startswith(b"BM") and len(head) >= 26:
        size = struct.unpack("<I", head[14:18])[0]
        if size >= 40:  # BITMAPINFOHEADER or later
            w, h = struct.unpack("<ii", head[18:26])
            return (w, abs(h)) if w > 0 and h != 0 else None
    if head.startswith((b"GIF87a", b"GIF89a")) and len(head) >= 10:
        w, h = struct.unpack("<HH", head[6:10])
        return (w, h) if w > 0 and h > 0 else None
    return None


def _media_meta(payload: bytes):
    """(width, height, n_frames, sample_rate, n_channels, duration_s) from
    real header/container parsing: parse_image_dims (PNG/BMP/GIF/JPEG),
    parse_audio_meta (WAV) and the MP4/AVI/webm demuxers. A field no
    parser finds is None; a container whose parser raises ValueError
    counts as found by none."""
    dims = parse_image_dims(payload)
    audio = parse_audio_meta(payload)
    video = None
    try:
        if bytes(payload[4:8]) == b"ftyp":
            from open_ocr_spark.dataops.mp4 import parse_mp4

            video = parse_mp4(payload)
        elif payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            from open_ocr_spark.dataops.avi import parse_avi

            avi = parse_avi(payload)
            if avi is not None:
                video = {
                    "width": avi["width"], "height": avi["height"],
                    "n_samples": avi["n_frames"],
                    "duration_s": avi["duration_s"],
                }
        elif payload[:4] == b"\x1a\x45\xdf\xa3":
            from open_ocr_spark.dataops.ebml import parse_webm

            video = parse_webm(payload)
    except ValueError:
        video = None
    if video is not None:
        return (
            video["width"] or None, video["height"] or None,
            video["n_samples"], None, None, video["duration_s"],
        )
    width, height = dims if dims is not None else (None, None)
    rate, channels, duration = audio if audio is not None else (None,) * 3
    n_frames = 1 if dims is not None or audio is not None else None
    return width, height, n_frames, rate, channels, duration


def extract_media_features(media: DataFrame) -> DataFrame:
    """Feature extraction over map_rows: one output batch per Arrow
    batch, the binary column stays opaque until inside the kernel. Every
    row keeps its media_type, n_bytes and sha1; the dims, frame count and
    audio/video metadata are what _media_meta's parsers found, NULL
    where none did."""

    def features(media_id, payload, declared):
        if payload is None or len(payload) == 0:
            return [(media_id, declared or "application/octet-stream",
                     0, "", None, None, None, None, None, None)]
        payload = bytes(payload)
        return [(
            media_id,
            declared or sniff_media_type(payload),
            len(payload),
            hashlib.sha1(payload).hexdigest(),
            *_media_meta(payload),
        )]

    cols = ["media_id", "payload", "media_type"]
    return map_rows(media.select(*cols), FEATURE_SCHEMA, features)


RESIZE_SCHEMA = (
    "media_id long, payload binary, width int, height int, n_bytes long"
)


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px


def _png_unfilter(raw, w: int, h: int, c: int):
    """Reverse PNG scanline filtering (RFC 2083 §6) into an (h, w*c) uint8
    array. Filters None/Sub/Up are fully vectorized (Sub's left-recurrence
    is a per-lane cumsum mod 256); Average and Paeth have a true sequential
    dependence on the reconstructed left pixel, so those ROWS run an O(w)
    Python loop over pixels with numpy per-channel lanes — row-local work
    inside the Arrow batch kernel, never a driver loop. Raises ValueError
    on a filter byte outside 0-4 (corrupt stream)."""
    import numpy as np

    stride = w * c
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (1 + stride)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (1 + stride) + 1
        )
        if ftype == 0:
            recon = row.copy()
        elif ftype == 1:  # Sub: recon[x] = row[x] + recon[x-c]
            recon = (
                np.cumsum(row.reshape(w, c).astype(np.int64), axis=0) % 256
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up: uint8 add wraps mod 256 natively
            recon = row + prev
        elif ftype in (3, 4):
            rw = row.reshape(w, c).astype(np.int64)
            up = prev.reshape(w, c).astype(np.int64)
            rec = np.empty((w, c), dtype=np.int64)
            left = np.zeros(c, dtype=np.int64)
            upleft = np.zeros(c, dtype=np.int64)
            if ftype == 3:  # Average
                for x in range(w):
                    left = (rw[x] + (left + up[x]) // 2) & 255
                    rec[x] = left
            else:  # Paeth
                for x in range(w):
                    p = left + up[x] - upleft
                    pa, pb, pc = (
                        np.abs(p - left), np.abs(p - up[x]), np.abs(p - upleft)
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up[x], upleft),
                    )
                    left = (rw[x] + pred) & 255
                    upleft = up[x]
                    rec[x] = left
            recon = rec.astype(np.uint8).reshape(stride)
        else:
            raise ValueError(f"png: bad filter type {ftype}")
        out[y] = recon
        prev = recon
    return out


def _decode_png(data: bytes):
    """(h, w, 3) uint8 RGB from a PNG via stdlib zlib + numpy unfiltering.

    REAL decode for the bulk of web PNGs: 8-bit depth, color types 0
    (grey), 2 (truecolor), 3 (palette), 4 (grey+alpha), 6 (RGBA),
    non-interlaced. Alpha is dropped (no compositing target exists in a
    resize stage). Valid-but-out-of-scope shapes (16-bit, sub-byte palette
    depths, Adam7 interlace) return None — same contract as unsupported
    containers; structurally corrupt payloads raise ValueError."""
    import struct
    import zlib

    import numpy as np

    from open_ocr_spark.kernels import archive

    if len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, n = 8, len(data)
    ihdr = plte = None
    idat = []
    while pos + 8 <= n:
        clen, ctype = struct.unpack(">I4s", data[pos : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("png: truncated chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + body + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("png: missing IHDR or IDAT")
    w, h, depth, ct, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if w <= 0 or h <= 0 or comp != 0 or filt != 0 or ct not in _PNG_CHANNELS:
        raise ValueError("png: bad IHDR")
    if depth != 8 or interlace != 0:
        return None  # valid PNG, out of pure-stdlib scope (16-bit / Adam7)
    c = _PNG_CHANNELS[ct]
    size = h * (1 + w * c)  # one filter byte per scanline
    if size > archive.MAX_GUNZIP_BYTES:  # the IHDR is the payload's claim
        raise ValueError(
            f"png: IHDR size exceeds {archive.MAX_GUNZIP_BYTES} bytes")
    try:
        raw, _ = archive.inflate(b"".join(idat), size)
    except archive.TooLarge:
        raise ValueError("png: IDAT length mismatch") from None
    except (zlib.error, EOFError) as exc:
        raise ValueError(f"png: bad IDAT stream ({exc})") from exc
    if len(raw) != size:
        raise ValueError("png: IDAT length mismatch")
    px = _png_unfilter(raw, w, h, c).reshape(h, w, c)
    if ct == 2:
        return px.copy()
    if ct == 6:
        return px[:, :, :3].copy()
    if ct == 0:
        return np.repeat(px, 3, axis=2)
    if ct == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    # ct == 3: palette lookup
    if plte is None or len(plte) % 3:
        raise ValueError("png: palette image without valid PLTE")
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idx = px.reshape(h, w)
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("png: palette index out of range")
    return pal[idx]


def decode_pixels(payload: bytes):
    """numpy (h, w, 3) uint8 array from the formats stdlib+numpy can decode
    without PIL/ffmpeg: PNG (zlib IDAT + numpy unfiltering — 8-bit
    grey/truecolor/palette/alpha, non-interlaced), baseline, progressive
    AND arithmetic-coded JPEG (huffman/QM entropy decode + progressive
    scan assembly + vectorized IDCT, grayscale/YCbCr, any divisible
    subsampling, restart markers — see dataops/jpeg.py +
    dataops/jpeg_arith.py), GIF87a/89a (LZW, interlace,
    local/global palettes, first frame — see dataops/gif.py),
    uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB, bottom-up or
    top-down) and binary PPM (P6, maxval 255). Returns None for every
    other format — those genuinely need a decoder library.
    Raises ValueError for recognized-but-corrupt payloads."""
    import struct

    import numpy as np

    data = bytes(payload)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    if data[:2] == b"\xff\xd8":
        from open_ocr_spark.dataops.jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from open_ocr_spark.dataops.gif import decode_gif

        return decode_gif(data)
    if data[:2] == b"BM" and len(data) >= 54:
        off, = struct.unpack("<I", data[10:14])
        hdr, = struct.unpack("<I", data[14:18])
        if hdr < 40:
            return None  # BITMAPCOREHEADER etc: out of scope
        w, h = struct.unpack("<ii", data[18:26])
        bpp, = struct.unpack("<H", data[28:30])
        comp, = struct.unpack("<I", data[30:34])
        if bpp != 24 or comp != 0:
            return None  # paletted/compressed BMP needs a real decoder
        if w <= 0 or h == 0:
            raise ValueError("bmp: bad dimensions")
        top_down = h < 0
        h = abs(h)
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        need = off + stride * h
        if len(data) < need:
            raise ValueError("bmp: truncated pixel data")
        rows = np.frombuffer(
            data, dtype=np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR -> RGB
    if data[:2] == b"P6":
        # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster;
        # '#' comments allowed inside the whitespace
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(data) and data[pos : pos + 1].isspace():
                pos += 1
            if pos < len(data) and data[pos : pos + 1] == b"#":
                eol = data.find(b"\n", pos)
                if eol < 0:
                    raise ValueError("ppm: unterminated comment")
                pos = eol + 1
                continue
            start = pos
            while pos < len(data) and data[pos : pos + 1].isdigit():
                pos += 1
            if pos == start:
                raise ValueError("ppm: malformed header")
            fields.append(int(data[start:pos]))
        w, h, maxval = fields
        if maxval != 255 or w <= 0 or h <= 0:
            return None  # 16-bit-per-sample PPMs are out of scope
        # exactly one whitespace byte before the raster — VERIFY it: a
        # missing separator means a malformed header, and a CR here means
        # a text-mode-written file whose raster is shifted/corrupted (the
        # naive pos += 1 would silently decode every pixel one byte off)
        sep = data[pos : pos + 1]
        if not sep.isspace():
            raise ValueError("ppm: missing whitespace after maxval")
        if sep == b"\r":
            raise ValueError(
                "ppm: CR after maxval (text-mode-written file; raster "
                "would be byte-shifted)"
            )
        pos += 1
        if len(data) < pos + w * h * 3:
            raise ValueError("ppm: truncated raster")
        return np.frombuffer(
            data, dtype=np.uint8, count=w * h * 3, offset=pos
        ).reshape(h, w, 3).copy()
    return None


def encode_bmp24(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> uncompressed bottom-up 24-bit BMP bytes."""
    import struct

    import numpy as np

    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR
    pix = padded.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return header + pix


def encode_ppm(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> binary PPM (P6) bytes."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def encode_png(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> truecolor 8-bit PNG bytes (filter 0 rows,
    stdlib zlib deflate). Round-trips through _decode_png exactly."""
    import struct
    import zlib

    import numpy as np

    h, w = arr.shape[:2]
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0  # filter: None
    raw[:, 1:] = arr.reshape(h, w * 3)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + chunk(b"IEND", b"")
    )


def resize_nearest(arr, width: int, height: int):
    """Nearest-neighbor resize via numpy integer index maps (the pixel-
    center convention: src = floor((dst + 0.5) * S / D))."""
    import numpy as np

    sh, sw = arr.shape[:2]
    ys = np.minimum(((np.arange(height) + 0.5) * sh / height).astype(int),
                    sh - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * sw / width).astype(int),
                    sw - 1)
    return arr[ys][:, xs]


def resize_images(
    media: DataFrame, width: int = 224, height: int = 224
) -> DataFrame:
    """Resize stage over map_rows: binary in, binary out, one output
    batch per Arrow batch — the shape a training-data image pipeline needs
    (decode → resize → re-encode on the executor, never on the driver).

    REAL pixel path for the formats stdlib+numpy can decode (PNG via zlib
    IDAT + numpy unfiltering, baseline+progressive JPEG via huffman +
    vectorized IDCT, GIF via LZW + palette, uncompressed 24-bit BMP,
    binary PPM): decode → numpy nearest-neighbor
    → re-encode in the same container, deterministic (pixel-exact for the
    lossless containers; JPEG re-encodes near-losslessly with all-ones
    quant tables). Every other format, and a recognized container with a
    corrupt body (truncated BMP, malformed PPM header), gets the NULL
    payload's row: (media_id, NULL, NULL, NULL, 0)."""

    def resize(media_id, payload):
        arr = None
        if payload is not None and len(payload) > 0:
            payload = bytes(payload)
            try:
                arr = decode_pixels(payload)
            except ValueError:
                arr = None
        if arr is None:
            return [(media_id, None, None, None, 0)]
        out_arr = resize_nearest(arr, width, height)
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            out = encode_png(out_arr)
        elif payload[:2] == b"\xff\xd8":
            from open_ocr_spark.dataops.jpeg import encode_jpeg

            out = encode_jpeg(out_arr)
        elif payload[:2] == b"P6":
            out = encode_ppm(out_arr)
        elif payload[:6] in (b"GIF87a", b"GIF89a"):
            from open_ocr_spark.dataops.gif import encode_gif

            # nearest-neighbor only samples existing pixels, so a
            # decoded GIF always re-palettizes exactly
            out = encode_gif(out_arr)
        else:
            out = encode_bmp24(out_arr)
        return [(media_id, out, width, height, len(out))]

    return map_rows(
        media.select("media_id", "payload"), RESIZE_SCHEMA, resize
    )


FRAME_SCHEMA = "media_id long, frame_idx int, ts_s double, frame binary"


def sample_frames(media: DataFrame, fps: float = 1.0) -> DataFrame:
    """Frame sampling: ONE-TO-MANY map_rows — each video row fans out to
    its sampled frames (a row function may return any number of rows, so
    no explode/UDTF is needed). Partitioning carries over from the input,
    so a video's frames stay on the executor that held its bytes.

    REAL path for MP4 (ISO-BMFF) payloads: the container's sample table
    (dataops/mp4.py) gives every codec sample's byte range and decode
    time; each 1/fps tick emits the byte-exact sample whose dts covers
    the tick, with the tick as ``ts_s``. The frames are codec samples, not
    pixels: decoding H.264 etc. needs ffmpeg.

    REAL path for webm/mkv payloads (dataops/ebml.py): the EBML
    Cluster/SimpleBlock walk yields the same byte-exact (offset, size,
    timestamp) sample shape as MP4, fed through the identical
    covers-the-tick loop; VP8/VP9/AV1 samples stay undecoded, like
    MP4's.

    REAL path for AVI/MJPEG payloads (dataops/avi.py): every ``00dc``
    chunk is a complete baseline JPEG, so the emitted frame bytes are
    decodable END TO END by this repo's own JPEG decoder — container
    demux, timing, fan-out AND pixels.

    Any other payload, and a container whose parser raises ValueError,
    yields no frames, like a NULL payload.
    """

    def frames(media_id, payload):
        from open_ocr_spark.dataops.mp4 import parse_mp4

        if payload is None or len(payload) == 0:
            return
        payload = bytes(payload)
        info = None
        if payload[4:8] == b"ftyp":
            try:
                info = parse_mp4(payload)
            except ValueError:
                info = None
        elif payload[:4] == b"\x1a\x45\xdf\xa3":
            # webm/mkv: dataops/ebml.py yields the same (offset, size,
            # ts) sample shape as the MP4 walk, so the covers-the-tick
            # loop below is shared
            from open_ocr_spark.dataops.ebml import parse_webm

            try:
                info = parse_webm(payload)
            except ValueError:
                info = None
        if info is not None and not info["samples"]:
            # structurally valid video track declaring zero samples:
            # nothing to emit (indexing would crash)
            return
        if info is not None:
            import math

            samples = info["samples"]
            dts = [s[2] for s in samples]
            n_ticks = max(1, math.ceil(info["duration_s"] * fps - 1e-9))
            idx = 0
            for k in range(n_ticks):
                tick = k / fps
                # sample whose decode time covers this tick
                while idx + 1 < len(dts) and dts[idx + 1] <= tick + 1e-9:
                    idx += 1
                off, sz, _ = samples[idx]
                yield media_id, k, round(tick, 6), payload[off : off + sz]
            return
        avi = None
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            from open_ocr_spark.dataops.avi import parse_avi

            try:
                avi = parse_avi(payload)
            except ValueError:
                avi = None
        if avi is not None:
            # MJPEG AVI: frame k' covers [k'/fps_src, (k'+1)/fps_src) —
            # same covers-the-tick rule as MP4 dts
            import math

            n_ticks = max(1, math.ceil(avi["duration_s"] * fps - 1e-9))
            for k in range(n_ticks):
                tick = k / fps
                fi = min(int(tick * avi["fps"] + 1e-9), avi["n_frames"] - 1)
                off, sz = avi["frames"][fi]
                yield media_id, k, round(tick, 6), payload[off : off + sz]

    return map_rows(
        media.select("media_id", "payload"), FRAME_SCHEMA, frames
    )


def binary_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM stats over the opaque binary column (no kernel at all):
    byte length + md5 — the oracle-checkable slice of the multimodal path."""
    return media.select(
        "media_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )
