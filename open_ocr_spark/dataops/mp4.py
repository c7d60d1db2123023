"""ISO-BMFF (MP4, ISO 14496-12) container layer in pure stdlib.

Real demuxing for the video path: box-tree walk, sample-table
interpretation (stts decode times, stsc chunk mapping, stco/co64 chunk
offsets, stsz sizes) and byte-exact extraction of individual codec
samples ("frames" at the container level) with their real timestamps.
Combined with `multimodal.sample_frames` this makes video frame sampling
REAL down to the codec-sample boundary — only the pixel decode of those
samples (H.264 etc.) needs ffmpeg and is out of scope.

Also a minimal muxer (`mux_mp4`) used by tests and oracle fixtures so the
demuxer is pinned against an independently-constructed bitstream rather
than against itself: the muxer writes boxes bottom-up by the spec layout,
the parser walks them top-down.

Contract mirrors the other media decoders (multimodal.decode_pixels):
structurally corrupt containers raise ValueError; valid-but-out-of-scope
shapes (no video track, fragmented movies without a sample table) return
None.

Parity note: the reference treats payloads as opaque bytes routed by
magic (/root/reference/ocr_request.go:9); this engine additionally opens
the container so a training pipeline can sample frames without shipping
whole videos between stages.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _iter_boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos : pos + 4], "big")
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("mp4: truncated largesize box")
            size = int.from_bytes(data[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError("mp4: box overruns container")
        yield btype, body, pos + size
        pos += size
    if pos != end:
        raise ValueError("mp4: trailing bytes inside container")


def _find_boxes(data: bytes, start: int, end: int, btype: bytes):
    return [
        (b, e) for t, b, e in _iter_boxes(data, start, end) if t == btype
    ]


def _fullbox(data: bytes, start: int) -> tuple[int, int]:
    """(version, body offset past version/flags)."""
    return data[start], start + 4


def parse_mp4(data: bytes):
    """Sample-level index of the first video track:
    ``{"width", "height", "timescale", "duration_s", "n_samples",
    "samples": [(offset, size, dts_s), ...]}``.

    Returns None if the payload is not an MP4 or carries no video track
    with a usable sample table (fragmented movies); raises ValueError on
    structural corruption (struct.error from short sample-table buffers
    is normalized to ValueError so callers have ONE corrupt-payload
    exception to route to error-as-value)."""
    try:
        return _parse_mp4(data)
    except struct.error as exc:
        raise ValueError(f"mp4: truncated table ({exc})") from exc


def _parse_mp4(data: bytes):
    data = bytes(data)
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    top = list(_iter_boxes(data, 0, len(data)))
    moov = [(b, e) for t, b, e in top if t == b"moov"]
    if not moov:
        return None  # streaming/fragmented layout without moov
    mb, me = moov[0]
    for trak_b, trak_e in _find_boxes(data, mb, me, b"trak"):
        for mdia_b, mdia_e in _find_boxes(data, trak_b, trak_e, b"mdia"):
            hdlrs = _find_boxes(data, mdia_b, mdia_e, b"hdlr")
            if not hdlrs or data[hdlrs[0][0] + 8 : hdlrs[0][0] + 12] != b"vide":
                continue
            # tkhd: width/height as 16.16 fixed point at the tail
            tkhds = _find_boxes(data, trak_b, trak_e, b"tkhd")
            width = height = 0
            if tkhds:
                tb, te = tkhds[0]
                if te - tb < 8:
                    raise ValueError("mp4: truncated tkhd")
                width = int.from_bytes(data[te - 8 : te - 4], "big") >> 16
                height = int.from_bytes(data[te - 4 : te], "big") >> 16
            mdhds = _find_boxes(data, mdia_b, mdia_e, b"mdhd")
            if not mdhds:
                raise ValueError("mp4: video trak without mdhd")
            ver, p = _fullbox(data, mdhds[0][0])
            if ver == 1:
                timescale = int.from_bytes(data[p + 16 : p + 20], "big")
                duration = int.from_bytes(data[p + 20 : p + 28], "big")
            else:
                timescale = int.from_bytes(data[p + 8 : p + 12], "big")
                duration = int.from_bytes(data[p + 12 : p + 16], "big")
            if timescale == 0:
                raise ValueError("mp4: zero timescale")
            stbls = [
                s
                for minf_b, minf_e in _find_boxes(data, mdia_b, mdia_e, b"minf")
                for s in _find_boxes(data, minf_b, minf_e, b"stbl")
            ]
            if not stbls:
                return None
            sb, se = stbls[0]

            def table(btype):
                found = _find_boxes(data, sb, se, btype)
                return found[0] if found else None

            stts, stsz, stsc = table(b"stts"), table(b"stsz"), table(b"stsc")
            stco = table(b"stco") or table(b"co64")
            co64 = table(b"stco") is None and stco is not None
            if not (stts and stsz and stsc and stco):
                return None  # fragmented movie: samples live in moof/trun
            # Every declared count below is validated against the box's own
            # byte extent BEFORE any expansion: a tiny corrupt/hostile file
            # declaring a 32-bit count must raise ValueError, never build a
            # billions-element list or read table entries from outside its
            # box (struct.unpack_from would happily read sibling boxes).
            # stsz first -> n_samples bounds the stts expansion
            _, p = _fullbox(data, stsz[0])
            uniform = int.from_bytes(data[p : p + 4], "big")
            n_samples = int.from_bytes(data[p + 4 : p + 8], "big")
            if uniform:
                if uniform * n_samples > len(data):
                    raise ValueError("mp4: declared samples overrun file")
                sizes = [uniform] * n_samples
            else:
                if p + 8 + 4 * n_samples > stsz[1]:
                    raise ValueError("mp4: stsz entries overrun box")
                sizes = list(
                    struct.unpack_from(f">{n_samples}I", data, p + 8)
                )
            # stts -> per-sample decode times
            _, p = _fullbox(data, stts[0])
            n_ent = int.from_bytes(data[p : p + 4], "big")
            if p + 4 + 8 * n_ent > stts[1]:
                raise ValueError("mp4: stts entries overrun box")
            dts, t = [], 0
            for i in range(n_ent):
                cnt, delta = struct.unpack_from(">II", data, p + 4 + 8 * i)
                if len(dts) + cnt > n_samples:
                    raise ValueError("mp4: stts/stsz sample count mismatch")
                for _ in range(cnt):
                    dts.append(t)
                    t += delta
            if len(dts) != n_samples:
                raise ValueError("mp4: stts/stsz sample count mismatch")
            # stco -> chunk offsets
            _, p = _fullbox(data, stco[0])
            n_chunks = int.from_bytes(data[p : p + 4], "big")
            width_b = 8 if co64 else 4
            if p + 4 + width_b * n_chunks > stco[1]:
                raise ValueError("mp4: stco entries overrun box")
            fmt = ">%d%s" % (n_chunks, "Q" if co64 else "I")
            offsets = list(struct.unpack_from(fmt, data, p + 4))
            # stsc -> samples per chunk runs
            _, p = _fullbox(data, stsc[0])
            n_runs = int.from_bytes(data[p : p + 4], "big")
            if p + 4 + 12 * n_runs > stsc[1]:
                raise ValueError("mp4: stsc entries overrun box")
            runs = [
                struct.unpack_from(">III", data, p + 4 + 12 * i)[:2]
                for i in range(n_runs)
            ]
            # expand runs to per-chunk sample counts.  The expansion below
            # indexes per_chunk from chunk 1, so the first run MUST start
            # there (ISO 14496-12 requires it); a first_chunk != 1 would
            # silently shift every sample onto the wrong chunk offset.
            if runs and runs[0][0] != 1:
                raise ValueError("mp4: stsc first run must start at chunk 1")
            per_chunk = []
            for ri, (first, spc) in enumerate(runs):
                last = (
                    runs[ri + 1][0] - 1 if ri + 1 < len(runs) else n_chunks
                )
                if first < 1 or last > n_chunks or last < first - 1:
                    raise ValueError("mp4: stsc run outside chunk range")
                if spc > n_samples:
                    raise ValueError("mp4: stsc run overruns sample count")
                per_chunk.extend([spc] * (last - first + 1))
            samples, si = [], 0
            for ci, coff in enumerate(offsets):
                off = coff
                for _ in range(per_chunk[ci] if ci < len(per_chunk) else 0):
                    if si >= n_samples:
                        break
                    sz = sizes[si]
                    if off + sz > len(data):
                        raise ValueError("mp4: sample overruns file")
                    samples.append((off, sz, dts[si] / timescale))
                    off += sz
                    si += 1
            if si != n_samples:
                raise ValueError("mp4: stsc chunk map covers too few samples")
            return {
                "width": width,
                "height": height,
                "timescale": timescale,
                "duration_s": duration / timescale,
                "n_samples": n_samples,
                "samples": samples,
            }
    return None  # no video track


# --- muxer (tests + oracle fixtures) ---------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _full(btype: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(btype, struct.pack(">B3s", version, flags.to_bytes(3, "big"))
                + body)


def mux_mp4(samples, width: int, height: int, timescale: int = 600,
            sample_delta: int = 600) -> bytes:
    """Minimal single-video-track MP4: all samples in one mdat chunk,
    constant sample duration. Enough structure that any ISO-BMFF reader
    (including this module's parser) can walk it."""
    if not samples:
        raise ValueError("mp4: need at least one sample")
    samples = [bytes(s) for s in samples]
    n = len(samples)
    duration = n * sample_delta
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat_payload = b"".join(samples)
    mdat = _box(b"mdat", mdat_payload)
    first_sample_off = len(ftyp) + 8  # mdat header precedes the payload

    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IH", 0x00010000, 0x0100) + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, duration) + b"\x00" * 16
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # 'und' language
    )
    hdlr = _full(b"hdlr", 0, 0,
                 struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"video\x00")
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    # minimal avc1 visual sample entry (86 bytes incl. header, no avcC —
    # the demux layer never needs codec config)
    avc1 = _box(
        b"avc1",
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x480000, 0x480000) + struct.pack(">I", 0)
        + struct.pack(">H", 1) + b"\x00" * 32
        + struct.pack(">Hh", 0x18, -1),
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + avc1)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, sample_delta))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, first_sample_off))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
