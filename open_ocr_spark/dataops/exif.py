"""EXIF metadata: TIFF-IFD parser over the JPEG APP1 segment, with the
encoder twin that makes it oracle-checkable.

A multimodal training pipeline reads EXIF for capture provenance
(camera make/model, timestamp), geometry (orientation — the pixel
decode is wrong without it), and exposure features; it is also the PII
surface images leak (GPS tags), so a scrub stage must FIND it reliably.
Format per the EXIF 2.3 / TIFF 6.0 public specs (CIPA DC-008, Adobe
TIFF rev 6.0): JPEG markers walk to APP1 ``Exif\\0\\0``; inside, a TIFF
stream — 2-byte byte order (``II`` little / ``MM`` big), magic 42,
IFD0 offset; each IFD is a count + 12-byte entries (tag, type, count,
value-or-offset — value inlines when it fits 4 bytes) + next-IFD
pointer; tag 0x8769 points at the Exif sub-IFD.

Both byte orders are first-class (fixtures alternate them); all offsets
are bounds-checked against the segment; malformed structures raise
``ValueError``, which the kernels below turn into a null row: the
error-as-value contract of multimodal.audio_stats.

Reference parity note: the reference engine never reads image metadata
(its OCR engines consume raw bytes); this operator is part of the
repo's multimodal-pipeline surface, not §2.A.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from open_ocr_spark.pipeline.stages import map_rows

# TIFF field types this surface uses: ASCII, SHORT, LONG, RATIONAL.
_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}

TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_X_RESOLUTION = 0x011A
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_EXPOSURE_TIME = 0x829A
TAG_ISO = 0x8827
TAG_PIXEL_X = 0xA002
TAG_GPS_IFD = 0x8825
TAG_GPS_LAT_REF = 0x0001
TAG_GPS_LAT = 0x0002
TAG_GPS_LON_REF = 0x0003
TAG_GPS_LON = 0x0004

_MAX_ENTRIES = 4096  # hostile-input cap: one IFD cannot claim 64k entries


# --- encoder twin ----------------------------------------------------------------


def _entry(
    order: str, tag: int, typ: int, values, data_off: int, heap: bytearray
) -> bytes:
    """One 12-byte IFD entry; out-of-line values append to ``heap`` (which
    starts at absolute TIFF offset ``data_off``)."""
    if typ == 2:  # ASCII: NUL-terminated
        raw = values.encode("ascii") + b"\x00"
        count = len(raw)
    elif typ == 5:  # RATIONAL: (num, den) pairs
        raw = b"".join(
            struct.pack(order + "II", n, d) for (n, d) in values
        )
        count = len(values)
    else:  # SHORT / LONG
        fmt = {3: "H", 4: "I"}[typ]
        raw = b"".join(struct.pack(order + fmt, v) for v in values)
        count = len(values)
    if len(raw) <= 4:
        value = raw + b"\x00" * (4 - len(raw))
    else:
        value = struct.pack(order + "I", data_off + len(heap))
        heap.extend(raw)
        if len(heap) % 2:  # TIFF word alignment
            heap.append(0)
    return (
        struct.pack(order + "HHI", tag, typ, count) + value
    )


def build_tiff_exif(
    *,
    byte_order: str = "II",
    make: str = "",
    model: str = "",
    orientation: int = 1,
    x_resolution: tuple[int, int] = (72, 1),
    datetime: str = "",
    exposure_time: tuple[int, int] = (1, 60),
    iso: int = 100,
    pixel_x: int = 0,
    gps: dict | None = None,
) -> bytes:
    """The TIFF stream of an Exif APP1 payload: IFD0 with the five
    baseline tags plus an Exif sub-IFD (exposure, ISO, pixel width) and,
    when ``gps`` is given, a GPS sub-IFD.  ``gps`` keys: lat_ref/lon_ref
    ("N"/"S"/"E"/"W") and lat/lon as three (num, den) rationals each
    (degrees, minutes, seconds)."""
    order = "<" if byte_order == "II" else ">"
    ifd0_fields = [
        (TAG_MAKE, 2, make),
        (TAG_MODEL, 2, model),
        (TAG_ORIENTATION, 3, [orientation]),
        (TAG_X_RESOLUTION, 5, [x_resolution]),
        (TAG_DATETIME, 2, datetime),
    ]
    exif_fields = [
        (TAG_EXPOSURE_TIME, 5, [exposure_time]),
        (TAG_ISO, 3, [iso]),
        (TAG_PIXEL_X, 4, [pixel_x]),
    ]
    gps_fields = []
    if gps is not None:
        gps_fields = [
            (TAG_GPS_LAT_REF, 2, gps["lat_ref"]),
            (TAG_GPS_LAT, 5, list(gps["lat"])),
            (TAG_GPS_LON_REF, 2, gps["lon_ref"]),
            (TAG_GPS_LON, 5, list(gps["lon"])),
        ]
    n_pointers = 1 + (1 if gps_fields else 0)
    # layout: header(8) | IFD0 | IFD0 heap | ExifIFD | Exif heap
    #         | [GPS IFD | GPS heap]
    ifd0_size = 2 + 12 * (len(ifd0_fields) + n_pointers) + 4
    ifd0_off = 8
    heap0_off = ifd0_off + ifd0_size
    heap0 = bytearray()
    entries0 = [
        _entry(order, t, typ, v, heap0_off, heap0)
        for (t, typ, v) in ifd0_fields
    ]
    exif_off = heap0_off + len(heap0)
    entries0.append(
        struct.pack(order + "HHI", TAG_EXIF_IFD, 4, 1)
        + struct.pack(order + "I", exif_off)
    )
    exif_size = 2 + 12 * len(exif_fields) + 4
    heap1_off = exif_off + exif_size
    heap1 = bytearray()
    entries1 = [
        _entry(order, t, typ, v, heap1_off, heap1)
        for (t, typ, v) in exif_fields
    ]
    gps_ifd = b""
    heap2 = bytearray()
    if gps_fields:
        gps_off = heap1_off + len(heap1)
        entries0.append(
            struct.pack(order + "HHI", TAG_GPS_IFD, 4, 1)
            + struct.pack(order + "I", gps_off)
        )
        gps_size = 2 + 12 * len(gps_fields) + 4
        heap2_off = gps_off + gps_size
        entries2 = [
            _entry(order, t, typ, v, heap2_off, heap2)
            for (t, typ, v) in gps_fields
        ]
        gps_ifd = (
            struct.pack(order + "H", len(entries2))
            + b"".join(entries2)
            + struct.pack(order + "I", 0)
        )
    entries0.sort(key=lambda e: struct.unpack(order + "H", e[:2])[0])
    header = byte_order.encode("ascii") + struct.pack(
        order + "HI", 42, ifd0_off
    )
    ifd0 = (
        struct.pack(order + "H", len(entries0))
        + b"".join(entries0)
        + struct.pack(order + "I", 0)
    )
    exif_ifd = (
        struct.pack(order + "H", len(entries1))
        + b"".join(entries1)
        + struct.pack(order + "I", 0)
    )
    return (
        header
        + ifd0
        + bytes(heap0)
        + exif_ifd
        + bytes(heap1)
        + gps_ifd
        + bytes(heap2)
    )


def build_exif_jpeg(**fields) -> bytes:
    """Minimal JPEG container carrying the Exif APP1: SOI, APP1, EOI.
    Enough structure for any marker-walking reader; the pixel payload is
    out of scope here (dataops/jpeg.py owns real pixel decode)."""
    tiff = build_tiff_exif(**fields)
    app1 = b"Exif\x00\x00" + tiff
    if len(app1) + 2 > 0xFFFF:
        raise ValueError("exif: APP1 payload exceeds segment size")
    return (
        b"\xff\xd8"
        + b"\xff\xe1"
        + struct.pack(">H", len(app1) + 2)
        + app1
        + b"\xff\xd9"
    )


# --- parser ----------------------------------------------------------------------


def _read_ifd(data: bytes, order: str, off: int) -> dict[int, tuple]:
    """tag -> (type, count, raw value bytes) for one IFD; bounds-checked."""
    if off + 2 > len(data):
        raise ValueError("exif: IFD offset past end")
    (n,) = struct.unpack_from(order + "H", data, off)
    if n > _MAX_ENTRIES:
        raise ValueError("exif: IFD entry count exceeds cap")
    if off + 2 + 12 * n + 4 > len(data):
        raise ValueError("exif: IFD truncated")
    out: dict[int, tuple] = {}
    for i in range(n):
        base = off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(order + "HHI", data, base)
        size = _TYPE_SIZES.get(typ)
        if size is None:
            continue  # unknown type: skip the entry, not the file
        total = size * count
        if total <= 4:
            raw = data[base + 8 : base + 8 + total]
        else:
            (voff,) = struct.unpack_from(order + "I", data, base + 8)
            if voff + total > len(data):
                raise ValueError("exif: value offset past end")
            raw = data[voff : voff + total]
        out[tag] = (typ, count, raw)
    return out


def _ascii(entry) -> str | None:
    if entry is None or entry[0] != 2:
        return None
    return entry[2].split(b"\x00", 1)[0].decode("ascii", "replace")


def _uint(entry, order: str) -> int | None:
    if entry is None or entry[0] not in (3, 4) or entry[1] < 1:
        return None
    fmt = "H" if entry[0] == 3 else "I"
    return struct.unpack_from(order + fmt, entry[2], 0)[0]


def _rational(entry, order: str) -> tuple[int, int] | None:
    if entry is None or entry[0] != 5 or len(entry[2]) < 8:
        return None
    n, d = struct.unpack_from(order + "II", entry[2], 0)
    return n, d


def _dms(entry, order: str) -> str | None:
    """GPS coordinate as the exact rational triple "dn/dd,mn/md,sn/sd" —
    no float arithmetic, so the value survives any engine bit-for-bit."""
    if entry is None or entry[0] != 5 or entry[1] < 3:
        return None
    parts = []
    for i in range(3):
        n, d = struct.unpack_from(order + "II", entry[2], 8 * i)
        parts.append(f"{n}/{d}")
    return ",".join(parts)


def parse_exif(payload: bytes) -> dict:
    """The selected-tag dict of a JPEG's Exif APP1 (make, model,
    orientation, x_resolution num/den, datetime, exposure num/den, iso,
    pixel_x, byte_order).  Raises ValueError on any structural problem —
    no JPEG SOI, no Exif APP1 before SOS, bad TIFF header, out-of-range
    offsets — which the kernels below turn into a null row."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG (no SOI)")
    pos = 2
    tiff = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("exif: marker desync")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            raise ValueError("exif: segment length past end")
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            tiff = body[6:]
            break
        if marker == 0xDA:  # SOS: entropy data follows, no APP1 found
            break
        pos += 2 + seg_len
    if tiff is None:
        raise ValueError("exif: no Exif APP1 segment")
    if len(tiff) < 8:
        raise ValueError("exif: TIFF header truncated")
    bo = tiff[:2]
    if bo == b"II":
        order = "<"
    elif bo == b"MM":
        order = ">"
    else:
        raise ValueError("exif: bad TIFF byte order")
    magic, ifd0_off = struct.unpack_from(order + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("exif: bad TIFF magic")
    ifd0 = _read_ifd(tiff, order, ifd0_off)
    exif_ifd: dict[int, tuple] = {}
    ptr = _uint(ifd0.get(TAG_EXIF_IFD), order)
    if ptr is not None:
        exif_ifd = _read_ifd(tiff, order, ptr)
    gps_ifd: dict[int, tuple] = {}
    gptr = _uint(ifd0.get(TAG_GPS_IFD), order)
    if gptr is not None:
        gps_ifd = _read_ifd(tiff, order, gptr)
    xres = _rational(ifd0.get(TAG_X_RESOLUTION), order)
    expo = _rational(exif_ifd.get(TAG_EXPOSURE_TIME), order)
    return {
        "byte_order": bo.decode("ascii"),
        "make": _ascii(ifd0.get(TAG_MAKE)),
        "model": _ascii(ifd0.get(TAG_MODEL)),
        "orientation": _uint(ifd0.get(TAG_ORIENTATION), order),
        "x_res_num": xres[0] if xres else None,
        "x_res_den": xres[1] if xres else None,
        "datetime": _ascii(ifd0.get(TAG_DATETIME)),
        "exposure_num": expo[0] if expo else None,
        "exposure_den": expo[1] if expo else None,
        "iso": _uint(exif_ifd.get(TAG_ISO), order),
        "pixel_x": _uint(exif_ifd.get(TAG_PIXEL_X), order),
        "has_gps": bool(gps_ifd),
        "gps_lat_ref": _ascii(gps_ifd.get(TAG_GPS_LAT_REF)),
        "gps_lat_dms": _dms(gps_ifd.get(TAG_GPS_LAT), order),
        "gps_lon_ref": _ascii(gps_ifd.get(TAG_GPS_LON_REF)),
        "gps_lon_dms": _dms(gps_ifd.get(TAG_GPS_LON), order),
    }


def scrub_gps(payload: bytes) -> bytes:
    """GPS-free canonical re-encode of a JPEG's Exif metadata — the
    image-PII scrub stage.

    Contract: ALLOWLIST RE-ENCODE, the strongest scrub posture — the
    output APP1 is rebuilt from scratch carrying only the parsed
    allowlisted tags (make/model/orientation/resolution/datetime/
    exposure/ISO/pixel width); GPS and every unrecognized tag (maker
    notes, serial numbers, embedded thumbnails) are gone by construction
    rather than by enumeration.  Byte order is preserved.  Segments
    outside APP1 (the actual image data) pass through untouched.
    Raises ValueError on unparseable input (a null row at the kernel
    layer)."""
    meta = parse_exif(payload)

    def keep(key, default):
        # explicit None check: 0 / "" are real tag values, not absences
        return default if meta[key] is None else meta[key]

    tiff = build_tiff_exif(
        byte_order=meta["byte_order"],
        make=keep("make", ""),
        model=keep("model", ""),
        orientation=keep("orientation", 1),
        x_resolution=(keep("x_res_num", 72), keep("x_res_den", 1)),
        datetime=keep("datetime", ""),
        exposure_time=(keep("exposure_num", 0), keep("exposure_den", 1)),
        iso=keep("iso", 0),
        pixel_x=keep("pixel_x", 0),
    )
    app1 = b"Exif\x00\x00" + tiff
    # splice: copy every segment, replacing the Exif APP1 body
    out = bytearray(b"\xff\xd8")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            break
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            out += b"\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1
        else:
            out += payload[pos : pos + 2 + seg_len]
        if marker == 0xDA:
            # entropy-coded data + EOI follow unframed: pass through
            out += payload[pos + 2 + seg_len :]
            return bytes(out)
        pos += 2 + seg_len
    out += b"\xff\xd9"
    return bytes(out)


_SCHEMA = (
    "media_id long, byte_order string, make string, model string, "
    "orientation int, x_res_num long, x_res_den long, datetime string, "
    "exposure_num long, exposure_den long, iso int, pixel_x long"
)

_COLS = [
    "media_id", "byte_order", "make", "model", "orientation",
    "x_res_num", "x_res_den", "datetime", "exposure_num",
    "exposure_den", "iso", "pixel_x",
]


def exif_metadata(media: DataFrame) -> DataFrame:
    """(media_id, byte_order, make, model, orientation, x_res_num/den,
    datetime, exposure_num/den, iso, pixel_x): EXIF capture metadata per
    JPEG payload over map_rows — the provenance/orientation/PII-scan
    projection of an image corpus.  Non-JPEG / Exif-less / structurally
    corrupt payloads get nulls (rows kept so joins see every media_id) —
    the multimodal error-as-value contract."""

    def exif(media_id, payload):
        try:
            meta = parse_exif(bytes(payload or b""))
        except ValueError:
            return [(media_id,) + (None,) * 11]
        return [(media_id,) + tuple(meta[c] for c in _COLS[1:])]

    return map_rows(media.select("media_id", "payload"), _SCHEMA, exif)


_GPS_SCHEMA = (
    "media_id long, had_gps boolean, gps_lat_ref string, "
    "gps_lat_dms string, gps_lon_ref string, gps_lon_dms string, "
    "scrub_has_gps boolean, make_after string"
)


def gps_scrub_report(media: DataFrame) -> DataFrame:
    """(media_id, had_gps, gps_lat_ref/dms, gps_lon_ref/dms,
    scrub_has_gps, make_after): run the GPS allowlist scrub over every
    JPEG payload and REVERIFY by re-parsing the scrubbed bytes — the
    audit surface a privacy pipeline hash-checks (found coordinates,
    post-scrub GPS absence, allowlisted-tag survival).  Unparseable
    payloads get nulls (row kept)."""

    def report(media_id, payload):
        try:
            before = parse_exif(bytes(payload or b""))
            after = parse_exif(scrub_gps(bytes(payload)))
        except ValueError:
            return [(media_id,) + (None,) * 7]
        return [(
            media_id,
            before["has_gps"],
            before["gps_lat_ref"],
            before["gps_lat_dms"],
            before["gps_lon_ref"],
            before["gps_lon_dms"],
            after["has_gps"],
            after["make"],
        )]

    return map_rows(media.select("media_id", "payload"), _GPS_SCHEMA, report)
