"""Pure-stdlib AVI (RIFF) demuxer + writer for MJPEG video.

AVI is the simplest widely-crawled video container: a RIFF chunk tree
whose ``movi`` list carries one chunk per frame.  With the MJPEG codec
every ``00dc`` chunk is a complete baseline JPEG, so this repo's own
JPEG decoder (dataops/jpeg.py) turns frame sampling into a REAL pixel
path with no ffmpeg — the first video format here where container
demux AND pixel decode are both genuine.  H.264/VP9 tracks need a
codec library: their frames stay undecoded sample bytes.

Layout handled (spec: Microsoft AVI RIFF File Reference, public):
``RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
00dc...) [idx1])`` — word-aligned chunks, frames either directly in
``movi`` or nested in ``rec `` lists, timing from the video ``strh``
dwRate/dwScale pair with the ``avih`` micro-sec-per-frame fallback.

The writer emits the same shape (with idx1) so property tests can
roundtrip demux over synthesized multi-frame files, mirroring
sources.py's WARC writer twin.  Reference parity note: tleyden/open-ocr
transports images only (docs/api); video handling is part of this
repo's extended training-data surface, not a reference port.
"""

from __future__ import annotations

import struct


def _chunks(data: bytes, pos: int, end: int):
    """Iterate (fourcc, body_start, body_size) over a RIFF chunk run,
    honoring word alignment."""
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        size, = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = pos + 8
        if body + size > end:
            raise ValueError("avi: chunk overruns container")
        yield fourcc, body, size
        pos = body + size + (size & 1)


def parse_avi(data: bytes):
    """Demux an AVI payload: returns ``{"width", "height", "fps",
    "n_frames", "duration_s", "frames": [(offset, size), ...]}`` for the
    first video stream.  Returns None if the payload is not RIFF/AVI at
    all; raises ValueError for structurally corrupt AVI."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    riff_size, = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_size)

    width = height = 0
    rate = scale = 0
    usec_per_frame = 0
    video_stream = -1
    frames: list[tuple[int, int]] = []

    # stream counting must survive recursion: a tiny mutable cell is
    # simpler than threading the index through every walk() frame
    _CURRENT_STREAM = [-1]

    def walk(pos: int, end: int):
        nonlocal width, height, rate, scale, usec_per_frame, video_stream
        for fourcc, body, size in _chunks(data, pos, end):
            if fourcc == b"LIST":
                ltype = data[body : body + 4]
                if ltype == b"strl":
                    _CURRENT_STREAM[0] += 1
                walk(body + 4, body + size)
            elif fourcc == b"avih" and size >= 40:
                usec_per_frame, = struct.unpack("<I", data[body : body + 4])
                w, h = struct.unpack("<II", data[body + 32 : body + 40])
                if not width:
                    width, height = w, h
            elif fourcc == b"strh" and size >= 28:
                if data[body : body + 4] == b"vids" and video_stream < 0:
                    video_stream = _CURRENT_STREAM[0]
                    scale, rate = struct.unpack(
                        "<II", data[body + 20 : body + 28]
                    )
            elif len(fourcc) == 4 and fourcc[2:4] in (b"dc", b"db"):
                try:
                    stream_no = int(fourcc[:2])
                except ValueError:
                    continue
                if video_stream < 0 or stream_no == video_stream:
                    frames.append((body, size))

    walk(12, end)
    if not frames:
        raise ValueError("avi: no video frame chunks")
    if rate and scale:
        fps = rate / scale
    elif usec_per_frame:
        fps = 1e6 / usec_per_frame
    else:
        raise ValueError("avi: no timing information")
    if fps <= 0:
        raise ValueError("avi: non-positive frame rate")
    return {
        "width": int(width),
        "height": int(height),
        "fps": fps,
        "n_frames": len(frames),
        "duration_s": len(frames) / fps,
        "frames": frames,
    }


def build_avi(
    jpeg_frames: list[bytes], width: int, height: int, fps: float = 10.0
) -> bytes:
    """MJPEG AVI writer: one ``00dc`` chunk per JPEG frame, full
    hdrl/strl headers and an idx1 index.  Roundtrips exactly through
    ``parse_avi`` (frame bytes come back byte-identical)."""
    if not jpeg_frames:
        raise ValueError("avi: need at least one frame")
    scale, rate = 1000, int(round(fps * 1000))

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    max_size = max(len(f) for f in jpeg_frames)
    avih = struct.pack(
        "<14I",
        int(round(1e6 / fps)),  # dwMicroSecPerFrame
        max_size * int(round(fps)),  # dwMaxBytesPerSec (advisory)
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        len(jpeg_frames),  # dwTotalFrames
        0, 1, 0,  # initial frames, streams, suggested buffer
        width, height,
        0, 0, 0, 0,  # reserved
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0, 0, 0,  # flags, priority, language+initial frames packed
            0,  # initial frames
            scale, rate,
            0,  # start
            len(jpeg_frames),  # length
            max_size,  # suggested buffer size
            0xFFFFFFFF,  # quality
            0,  # sample size (0: varies)
        )
        + struct.pack("<hhhh", 0, 0, width, height)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh)
                                   + chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    offsets = []
    for f in jpeg_frames:
        offsets.append(len(movi_body))  # offset of the 00dc fourcc,
        movi_body += chunk(b"00dc", f)  # relative to 'movi' (idx1 rule)
    movi = chunk(b"LIST", movi_body)
    idx1 = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(f))
        for off, f in zip(offsets, jpeg_frames)
    )
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(body)) + body
