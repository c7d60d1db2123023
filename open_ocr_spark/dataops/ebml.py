"""Pure-stdlib EBML/Matroska (webm/mkv) demuxer + writer.

EBML is the binary framing behind webm/mkv (RFC 8794 + the public
Matroska element registry).  Demux depth here mirrors dataops/mp4.py:
down to the codec-sample boundary — byte-exact frame payloads with true
timestamps from the Cluster/SimpleBlock walk — while PIXEL decode of the
samples (VP8/VP9/AV1) needs ffmpeg and is out of scope.

Coverage (the subset a crawler actually meets, each raising a clear
ValueError outside it):

- vint IDs up to 4 bytes, vint sizes up to 8 bytes;
- unknown-size Segment (the streaming-webm shape: every live remux ends
  this way) — children are walked to end-of-payload; unknown-size
  Clusters are NOT supported (rare on disk, need sibling-ID lookahead);
- Info (TimestampScale, Duration), Tracks (first TrackType==1 entry:
  TrackNumber, CodecID, PixelWidth/PixelHeight), Cluster (Timestamp,
  SimpleBlock, BlockGroup>Block);
- un-laced blocks only for the selected video track (lacing is an audio
  packing feature; a laced VIDEO block raises).  Blocks of other tracks
  are skipped wholesale, laced or not.

The writer emits one Cluster per frame (exercising the multi-cluster
walk) with sized elements throughout, so property tests can roundtrip
demux over synthesized multi-frame files — the same twin pattern as
sources.py's WARC writer and dataops/avi.py.  Reference parity note:
tleyden/open-ocr transports images only (docs/api); video is part of
this repo's extended training-data surface, not a reference port.
"""

from __future__ import annotations

import struct

_EBML = 0x1A45DFA3
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TS_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUMBER = 0xD7
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_W = 0xB0
_PIXEL_H = 0xBA
_CLUSTER = 0x1F43B675
_CLUSTER_TS = 0xE7
_SIMPLE_BLOCK = 0xA3
_BLOCK_GROUP = 0xA0
_BLOCK = 0xA1


def _read_id(data: bytes, pos: int) -> tuple[int, int]:
    """Element ID: a vint kept WITH its length-marker bit (IDs are
    compared as their raw byte value, 0x1A45DFA3 style)."""
    if pos >= len(data):
        raise ValueError("ebml: truncated id")
    b0 = data[pos]
    if b0 == 0:
        raise ValueError("ebml: invalid id")
    n = 9 - b0.bit_length()
    if n > 4 or pos + n > len(data):
        raise ValueError("ebml: truncated id")
    return int.from_bytes(data[pos : pos + n], "big"), pos + n


def _read_size(data: bytes, pos: int) -> tuple[int | None, int]:
    """Element size: a vint with the marker bit CLEARED; all value bits
    set means size-unknown (returned as None)."""
    if pos >= len(data):
        raise ValueError("ebml: truncated size")
    b0 = data[pos]
    if b0 == 0:
        raise ValueError("ebml: invalid size")
    n = 9 - b0.bit_length()
    if pos + n > len(data):
        raise ValueError("ebml: truncated size")
    val = int.from_bytes(data[pos : pos + n], "big") & ((1 << (7 * n)) - 1)
    if val == (1 << (7 * n)) - 1:
        return None, pos + n
    return val, pos + n


def _uint(data: bytes, pos: int, size: int) -> int:
    return int.from_bytes(data[pos : pos + size], "big")


def _float(data: bytes, pos: int, size: int) -> float:
    if size == 4:
        return struct.unpack(">f", data[pos : pos + size])[0]
    if size == 8:
        return struct.unpack(">d", data[pos : pos + size])[0]
    raise ValueError("ebml: float must be 4 or 8 bytes")


def _children(data: bytes, pos: int, end: int):
    """Iterate (id, body_start, body_size) over a sized master's
    children."""
    while pos < end:
        eid, pos = _read_id(data, pos)
        size, pos = _read_size(data, pos)
        if size is None:
            if eid == _CLUSTER:
                raise ValueError("ebml: unknown-size cluster unsupported")
            # unknown-size master other than Segment mid-file: walk to
            # the parent's end (RFC 8794 §6.2: ends at parent end)
            size = end - pos
        if pos + size > end:
            raise ValueError("ebml: element overruns parent")
        yield eid, pos, size
        pos += size


def _parse_block(
    data: bytes, pos: int, size: int, video_track: int, cluster_ts: int
):
    """One (Simple)Block: returns (offset, size, rel_ts) of the frame
    payload for the video track, or None for other tracks."""
    end = pos + size
    track, pos = _read_size(data, pos)  # track number is a plain vint
    if track is None:
        raise ValueError("ebml: block with unknown track")
    if pos + 3 > end:
        raise ValueError("ebml: truncated block header")
    if track != video_track:
        return None
    rel = struct.unpack(">h", data[pos : pos + 2])[0]
    flags = data[pos + 2]
    pos += 3
    if flags & 0x06:
        raise ValueError("ebml: laced video blocks unsupported")
    return pos, end - pos, cluster_ts + rel


def parse_webm(data: bytes):
    """Demux a webm/mkv payload: returns ``{"width", "height",
    "n_samples", "duration_s", "samples": [(offset, size, ts_s), ...],
    "codec"}`` for the first video track, samples in file order with
    true block timestamps.  Returns None if the payload is not EBML at
    all; raises ValueError for structurally corrupt files.  If Info
    carries no Duration, it is estimated as last-sample ts + the mean
    inter-sample gap (the only honest guess a container walk can make).
    """
    if len(data) < 4 or data[:4] != b"\x1a\x45\xdf\xa3":
        return None

    scale = 1_000_000  # ns per tick (Matroska default)
    duration_ticks: float | None = None
    width = height = 0
    codec = None
    video_track = -1
    raw_samples: list[tuple[int, int, int]] = []

    pos = 0
    while pos < len(data):
        eid, pos = _read_id(data, pos)
        size, pos = _read_size(data, pos)
        if size is None:
            if eid != _SEGMENT:
                raise ValueError("ebml: unknown-size top-level element")
            size = len(data) - pos
        end = pos + size
        if end > len(data):
            raise ValueError("ebml: element overruns payload")
        if eid == _SEGMENT:
            for cid, cpos, csize in _children(data, pos, end):
                if cid == _INFO:
                    for iid, ipos, isize in _children(
                        data, cpos, cpos + csize
                    ):
                        if iid == _TS_SCALE:
                            scale = _uint(data, ipos, isize)
                        elif iid == _DURATION:
                            duration_ticks = _float(data, ipos, isize)
                elif cid == _TRACKS:
                    for tid, tpos, tsize in _children(
                        data, cpos, cpos + csize
                    ):
                        if tid != _TRACK_ENTRY or video_track >= 0:
                            continue
                        num, ttype, w, h, cod = 0, 0, 0, 0, None
                        for fid, fpos, fsize in _children(
                            data, tpos, tpos + tsize
                        ):
                            if fid == _TRACK_NUMBER:
                                num = _uint(data, fpos, fsize)
                            elif fid == _TRACK_TYPE:
                                ttype = _uint(data, fpos, fsize)
                            elif fid == _CODEC_ID:
                                cod = data[fpos : fpos + fsize].decode(
                                    "ascii", "replace"
                                )
                            elif fid == _VIDEO:
                                for vid, vpos, vsize in _children(
                                    data, fpos, fpos + fsize
                                ):
                                    if vid == _PIXEL_W:
                                        w = _uint(data, vpos, vsize)
                                    elif vid == _PIXEL_H:
                                        h = _uint(data, vpos, vsize)
                        if ttype == 1 and num > 0:
                            video_track, width, height = num, w, h
                            codec = cod
                elif cid == _CLUSTER:
                    cluster_ts = 0
                    for kid, kpos, ksize in _children(
                        data, cpos, cpos + csize
                    ):
                        if kid == _CLUSTER_TS:
                            cluster_ts = _uint(data, kpos, ksize)
                        elif kid == _SIMPLE_BLOCK:
                            s = _parse_block(
                                data, kpos, ksize, video_track, cluster_ts
                            )
                            if s is not None:
                                raw_samples.append(s)
                        elif kid == _BLOCK_GROUP:
                            for gid, gpos, gsize in _children(
                                data, kpos, kpos + ksize
                            ):
                                if gid == _BLOCK:
                                    s = _parse_block(
                                        data, gpos, gsize, video_track,
                                        cluster_ts,
                                    )
                                    if s is not None:
                                        raw_samples.append(s)
        pos = end

    if video_track < 0:
        raise ValueError("ebml: no video track")
    if not raw_samples:
        raise ValueError("ebml: no video frame blocks")
    samples = [
        (off, sz, ts * scale / 1e9) for off, sz, ts in raw_samples
    ]
    if duration_ticks is not None:
        duration_s = duration_ticks * scale / 1e9
    else:
        ts = [s[2] for s in samples]
        gap = (ts[-1] - ts[0]) / (len(ts) - 1) if len(ts) > 1 else 1.0
        duration_s = ts[-1] + (gap if gap > 0 else 1.0)
    return {
        "width": int(width),
        "height": int(height),
        "n_samples": len(samples),
        "duration_s": duration_s,
        "samples": samples,
        "codec": codec,
    }


def _enc_size(n: int) -> bytes:
    """Shortest vint size encoding that is not the all-ones (unknown)
    pattern."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            v = n | (1 << (7 * length))
            return v.to_bytes(length, "big")
    raise ValueError("ebml: size too large")


def _enc_uint(n: int) -> bytes:
    return n.to_bytes(max(1, (n.bit_length() + 7) // 8), "big")


def _elem(eid: int, body: bytes) -> bytes:
    id_bytes = eid.to_bytes(max(1, (eid.bit_length() + 7) // 8), "big")
    return id_bytes + _enc_size(len(body)) + body


def build_webm(
    frames: list[bytes],
    width: int,
    height: int,
    fps: float = 10.0,
    codec: str = "V_VP9",
) -> bytes:
    """webm writer twin: TimestampScale 1 ms, one Cluster per frame
    (Timestamp = round(k/fps * 1000), SimpleBlock track 1, rel-ts 0,
    keyframe flag), Duration = n/fps.  Roundtrips exactly through
    ``parse_webm`` — frame bytes come back byte-identical with these
    timestamps."""
    if not frames:
        raise ValueError("ebml: need at least one frame")
    header = _elem(
        _EBML,
        _elem(0x4286, b"\x01")  # EBMLVersion
        + _elem(0x42F7, b"\x01")  # EBMLReadVersion
        + _elem(0x42F2, b"\x04")  # EBMLMaxIDLength
        + _elem(0x42F3, b"\x08")  # EBMLMaxSizeLength
        + _elem(0x4282, b"webm")  # DocType
        + _elem(0x4287, b"\x02")  # DocTypeVersion
        + _elem(0x4285, b"\x02"),  # DocTypeReadVersion
    )
    info = _elem(
        _INFO,
        _elem(_TS_SCALE, _enc_uint(1_000_000))
        + _elem(_DURATION, struct.pack(">d", len(frames) / fps * 1000.0)),
    )
    tracks = _elem(
        _TRACKS,
        _elem(
            _TRACK_ENTRY,
            _elem(_TRACK_NUMBER, b"\x01")
            + _elem(0x73C5, b"\x01")  # TrackUID
            + _elem(_TRACK_TYPE, b"\x01")
            + _elem(_CODEC_ID, codec.encode("ascii"))
            + _elem(
                _VIDEO,
                _elem(_PIXEL_W, _enc_uint(width))
                + _elem(_PIXEL_H, _enc_uint(height)),
            ),
        ),
    )
    clusters = b"".join(
        _elem(
            _CLUSTER,
            _elem(_CLUSTER_TS, _enc_uint(int(round(k / fps * 1000.0))))
            + _elem(
                _SIMPLE_BLOCK, b"\x81" + struct.pack(">h", 0) + b"\x80" + f
            ),
        )
        for k, f in enumerate(frames)
    )
    return header + _elem(_SEGMENT, info + tracks + clusters)
