"""Baseline + progressive JPEG (ITU-T T.81 / ISO 10918-1) codec in pure
stdlib + numpy.

Decoder: sequential DCT (SOF0; SOF1 decodes identically at 8-bit
precision) AND progressive DCT (SOF2: spectral selection + successive
approximation — DC first/refine, AC first with EOB runs, AC refinement
with correction bits, T.81 annex G), 8-bit samples, huffman entropy
coding, 1-component grayscale or 3-component YCbCr with arbitrary
divisible sampling factors (4:4:4 / 4:2:2 / 4:2:0 / ...), restart markers
(DRI/RSTn), 0xFF00 byte stuffing and 0xFF fill bytes. Hierarchical,
arithmetic-coded and 12-bit frames are valid JPEG but genuinely need a
decoder library -> ``decode_jpeg`` returns None, the same contract as the
other media decoders in ``multimodal.decode_pixels`` (structurally corrupt
streams raise ValueError).

Encoder: baseline YCbCr 4:4:4 (or 2x2-subsampled 4:2:0) / grayscale with
flat all-ones quantisation tables (near-lossless: the only loss is
coefficient + colorspace rounding) and fixed-length canonical huffman
tables built here (12 DC symbols at 4 bits, 162 AC symbols at 8 bits)
instead of the Annex K defaults — simpler to construct, bitstream-valid,
decodable by any baseline decoder.

Hot math (DCT/IDCT over all blocks at once via the orthonormal basis
matrix, dequantisation, zigzag scatter) is vectorized numpy; only the
entropy coding walks bits in Python, and it runs per Arrow batch inside
the map_rows kernels on the executor — never on the driver.

Parity note: the reference ships image bytes to its OCR engine whole
(/root/reference/ocr_engine.go, ocr_request.go:9 routes by magic bytes);
this engine decodes in-process so the resize/feature kernels stay
library-free.
"""

from __future__ import annotations

import struct

# Zigzag scan: _ZZ[k] = (row, col) of the k-th coefficient (T.81 fig. 5).
_ZZ = []
for _s in range(15):
    _rng = range(max(0, _s - 7), min(_s, 7) + 1)
    for _r in (_rng if _s % 2 else reversed(_rng)):
        _ZZ.append((_r, _s - _r))
_ZZ_ROW = tuple(r for r, _ in _ZZ)
_ZZ_COL = tuple(c for _, c in _ZZ)

_DCT_M = None  # lazily-built orthonormal 8x8 DCT-II basis matrix


def _dct_matrix():
    global _DCT_M
    if _DCT_M is None:
        import numpy as np

        k = np.arange(8).reshape(8, 1)
        n = np.arange(8).reshape(1, 8)
        m = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16)
        m[0] /= np.sqrt(2.0)
        _DCT_M = m
    return _DCT_M


def _build_huff(counts, vals):
    """Canonical huffman decode table {(length, code): symbol} from a DHT
    segment's 16 length counts + value list (T.81 annex C)."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            if k >= len(vals):
                raise ValueError("jpeg: DHT value list shorter than counts")
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing; hitting a non-RST marker mid-block is a truncation error."""

    __slots__ = ("data", "pos", "buf", "nbits")

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos = data, pos
        self.buf, self.nbits = 0, 0

    def _fill(self):
        d, p = self.data, self.pos
        while p < len(d) and d[p] == 0xFF and p + 1 < len(d) and d[p + 1] == 0xFF:
            p += 1  # fill bytes
        if p >= len(d):
            raise ValueError("jpeg: truncated entropy-coded data")
        b = d[p]
        if b == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else -1
            if nxt != 0x00:
                raise ValueError("jpeg: marker inside entropy-coded block")
            p += 1  # stuffed zero
        self.pos = p + 1
        self.buf = ((self.buf << 8) | b) & 0xFFFFFF
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, size: int) -> int:
        v = 0
        for _ in range(size):
            v = (v << 1) | self.read_bit()
        return v

    def receive_extend(self, size: int) -> int:
        v = self.receive(size)
        return v if v >= (1 << (size - 1)) else v - (1 << size) + 1

    def restart(self):
        """Byte-align and consume an RSTn marker (T.81 §F.2.2.5)."""
        self.buf = self.nbits = 0
        d, p = self.data, self.pos
        while p + 1 < len(d) and d[p] == 0xFF and d[p + 1] == 0xFF:
            p += 1
        if p + 1 >= len(d) or d[p] != 0xFF or not 0xD0 <= d[p + 1] <= 0xD7:
            raise ValueError("jpeg: missing restart marker")
        self.pos = p + 2


def _decode_symbol(r: _BitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid huffman code")


def decode_jpeg(data: bytes):
    """(h, w, 3) uint8 RGB from a sequential-huffman (SOF0/1),
    progressive (SOF2) or sequential-arithmetic (SOF9, QM coder —
    dataops/jpeg_arith.py) JPEG, or None for valid-but-out-of-scope
    frames (12-bit, 4-component, lossless/hierarchical, progressive-
    arithmetic, non-divisible sampling). Raises ValueError on structural
    corruption — struct.error/IndexError from truncated segment bodies
    are normalized to ValueError so callers route ONE exception to
    error-as-value."""
    try:
        return _decode_jpeg(data)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"jpeg: truncated structure ({exc})") from exc


def _decode_jpeg(data: bytes):
    import numpy as np

    data = bytes(data)
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    pos, n = 2, len(data)
    qtabs, hufftabs = {}, {}
    frame = None
    restart = 0
    scan = None
    progressive = False
    arithmetic = False
    dac = {}
    prog = None
    while pos < n:
        if data[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        while pos < n and data[pos] == 0xFF:
            pos += 1  # fill bytes
        if pos >= n:
            raise ValueError("jpeg: truncated marker")
        m = data[pos]
        pos += 1
        if m == 0xD9:  # EOI
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            continue  # standalone markers
        if pos + 2 > n:
            raise ValueError("jpeg: truncated segment length")
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > n:
            raise ValueError("jpeg: truncated segment")
        body = data[pos + 2 : pos + seglen]
        pos += seglen
        if m == 0xDB:  # DQT
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 15
                bp += 1
                if pq == 0:
                    vals = list(body[bp : bp + 64])
                    bp += 64
                elif pq == 1:
                    vals = list(
                        struct.unpack(">64H", body[bp : bp + 128])
                    )
                    bp += 128
                else:
                    raise ValueError("jpeg: bad DQT precision")
                if len(vals) < 64:
                    raise ValueError("jpeg: truncated DQT")
                qtabs[tq] = np.array(vals, dtype=np.int32)
        elif m == 0xC4:  # DHT
            bp = 0
            while bp + 17 <= len(body):
                tc, th = body[bp] >> 4, body[bp] & 15
                bits = list(body[bp + 1 : bp + 17])
                count = sum(bits)
                vals = list(body[bp + 17 : bp + 17 + count])
                bp += 17 + count
                hufftabs[(tc, th)] = _build_huff(bits, vals)
        elif m == 0xDD:  # DRI
            restart = int.from_bytes(body[:2], "big")
        elif m in (0xC0, 0xC1, 0xC2, 0xC9):
            # SOF0/1 sequential huffman, SOF2 progressive, SOF9
            # sequential arithmetic (entropy layer: dataops/jpeg_arith.py)
            if body[0] != 8:
                return None  # 12-bit precision
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if h == 0 or w == 0:
                raise ValueError("jpeg: DNL-deferred dimensions unsupported")
            if nc not in (1, 3):
                return None  # CMYK etc.
            comps = []
            for i in range(nc):
                cid = body[6 + 3 * i]
                hv = body[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 15, body[8 + 3 * i]))
            frame = (h, w, comps)
            progressive = m == 0xC2
            arithmetic = m == 0xC9
        elif m == 0xCC:  # DAC: arithmetic conditioning (T.81 B.2.4.3)
            bp = 0
            while bp + 2 <= len(body):
                dac[(body[bp] >> 4, body[bp] & 15)] = body[bp + 1]
                bp += 2
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            return None  # lossless / hierarchical / progressive-arith
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            if progressive:
                if prog is None:
                    prog = _prog_init(frame, n - pos)
                    if prog is None:
                        return None  # non-divisible sampling
                pos = _prog_scan(
                    data, pos, body, prog, hufftabs, qtabs, restart
                )
                continue  # back to marker parsing: more scans follow
            ns = body[0]
            scan = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 15)
                for i in range(ns)
            ]
            break  # entropy-coded data follows at `pos`
        # else: APPn / COM — skipped
    if progressive:
        if prog is None:
            raise ValueError("jpeg: missing SOF or SOS")
        return _prog_reconstruct(prog)
    if frame is None or scan is None:
        raise ValueError("jpeg: missing SOF or SOS")
    h, w, comps = frame
    if len(scan) != len(comps):
        return None  # multi-scan non-interleaved: out of scope
    if len(comps) == 1:
        # T.81 §A.2.3: a one-component scan is NON-interleaved — the MCU
        # is a single data unit and the frame's declared sampling factors
        # do not shape the scan (libjpeg ignores them here too). Without
        # this, a valid grayscale JPEG declaring H=V=2 would be read as
        # 4-block MCUs and desynchronize the huffman stream.
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or any(
        c[1] < 1 or c[2] < 1 or hmax % c[1] or vmax % c[2] for c in comps
    ):
        return None  # non-divisible sampling needs fractional upsampling
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # Fail fast on hostile dimensions BEFORE allocating coefficient
    # arrays: every 8x8 block costs >= 2 entropy bits (DC code + EOB), so
    # a frame declaring more blocks than the remaining payload could ever
    # encode is structurally corrupt — without this, a few-hundred-byte
    # file declaring 65535x65535 allocates ~16 GB per component.
    total_blocks = mcuy * mcux * sum(c[1] * c[2] for c in comps)
    if arithmetic:
        # the huffman >=2-bits-per-block bound does not hold (an adapted
        # QM MPS decision can cost ~2^-16 bits); an absolute cap still
        # stops hostile headers from allocating gigabytes
        if total_blocks > 1 << 20:
            raise ValueError("jpeg: arithmetic frame too large")
        if restart:
            raise ValueError(
                "jpeg: restart intervals in arithmetic scans unsupported"
            )
    elif total_blocks > 4 * (n - pos) + 64:
        raise ValueError("jpeg: declared dimensions exceed entropy data")
    by_id = {c[0]: c for c in comps}
    order = []  # (coef array, blocks-wide, H, V, dc_tab, ac_tab, qtab)
    for cs, td, ta in scan:
        if cs not in by_id:
            raise ValueError("jpeg: scan references unknown component")
        _, ch, cv, tq = by_id[cs]
        if not arithmetic and (
            (0, td) not in hufftabs or (1, ta) not in hufftabs
        ):
            raise ValueError("jpeg: scan references missing huffman table")
        if tq not in qtabs:
            raise ValueError("jpeg: component references missing DQT")
        bw, bh = mcux * ch, mcuy * cv
        order.append(
            [
                np.zeros((bh * bw, 64), dtype=np.int32),
                bw, ch, cv,
                # arithmetic scans carry the raw conditioning-table IDS
                # here (a legal arithmetic file may also contain DHT
                # segments, so hufftabs must never be consulted for it)
                td if arithmetic else hufftabs[(0, td)],
                ta if arithmetic else hufftabs[(1, ta)],
                qtabs[tq],
            ]
        )
    if arithmetic:
        from open_ocr_spark.dataops.jpeg_arith import decode_scan

        decode_scan(
            data, pos,
            [(coefs, bw, ch, cv, td, ta)
             for coefs, bw, ch, cv, td, ta, _q in order],
            mcux, mcuy, dac,
        )
        return _reconstruct(
            [(coefs, bw, ch, cv, qtab)
             for coefs, bw, ch, cv, _dt, _at, qtab in order],
            h, w, hmax, vmax,
        )
    reader = _BitReader(data, pos)
    preds = [0] * len(order)
    for idx in range(mcuy * mcux):
        if restart and idx and idx % restart == 0:
            reader.restart()
            preds = [0] * len(order)
        my, mx = divmod(idx, mcux)
        for ci, (coefs, bw, ch, cv, dct_t, act_t, _q) in enumerate(order):
            for by in range(cv):
                for bx in range(ch):
                    blk = coefs[(my * cv + by) * bw + mx * ch + bx]
                    size = _decode_symbol(reader, dct_t)
                    diff = reader.receive_extend(size) if size else 0
                    preds[ci] += diff
                    blk[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = _decode_symbol(reader, act_t)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("jpeg: AC coefficient overrun")
                        blk[k] = reader.receive_extend(s)
                        k += 1
    return _reconstruct(
        [(coefs, bw, ch, cv, qtab)
         for coefs, bw, ch, cv, _dt, _at, qtab in order],
        h, w, hmax, vmax,
    )


def _reconstruct(parts, h, w, hmax, vmax):
    """Shared dequant + IDCT + upsample + colorspace tail for the baseline
    and progressive paths. ``parts``: per component in frame order,
    (zigzag coef array (nblocks, 64), blocks-wide, H, V, qtab)."""
    import numpy as np

    m_basis = _dct_matrix()
    planes = []
    for coefs, bw, ch, cv, qtab in parts:
        deq = coefs * qtab  # both in zigzag order
        blocks = np.zeros((deq.shape[0], 8, 8), dtype=np.float64)
        blocks[:, _ZZ_ROW, _ZZ_COL] = deq
        px = np.einsum("ki,nkl,lj->nij", m_basis, blocks, m_basis) + 128.0
        bh = deq.shape[0] // bw
        plane = (
            px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // cv, axis=0),
                          hmax // ch, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        y = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes
    out = np.empty((h, w, 3), dtype=np.float64)
    out[:, :, 0] = y + 1.402 * (cr - 128.0)
    out[:, :, 1] = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    out[:, :, 2] = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# --- progressive decoding (T.81 annex G) -------------------------------------
# Coefficients accumulate across scans in per-component zigzag arrays over
# the MCU-padded block grid; non-interleaved scans walk the component's
# TRUE block grid (tbw x tbh) while interleaved DC scans walk MCUs, so the
# two addressings share one array via the padded row stride.


def _prog_init(frame, remaining: int):
    """Allocate progressive coefficient state, or None for frames the
    sequential path would also reject (non-divisible sampling)."""
    import numpy as np

    h, w, comps = frame
    if len(comps) == 1:
        # single-component frames: scans are non-interleaved, declared
        # sampling does not shape them (same rule as the baseline path)
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or any(
        c[1] < 1 or c[2] < 1 or hmax % c[1] or vmax % c[2] for c in comps
    ):
        return None
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # every block costs >= 1 bit in its (mandatory) DC-first scan, so a
    # frame declaring more blocks than the file has bits is hostile —
    # checked BEFORE allocating (same rationale as the baseline guard)
    total_blocks = mcuy * mcux * sum(c[1] * c[2] for c in comps)
    if total_blocks > 8 * remaining + 64:
        raise ValueError("jpeg: declared dimensions exceed entropy data")
    state = {"h": h, "w": w, "hmax": hmax, "vmax": vmax,
             "mcux": mcux, "mcuy": mcuy, "order": [c[0] for c in comps],
             "comps": {}}
    for cid, ch, cv, tq in comps:
        bw, bh = mcux * ch, mcuy * cv
        cw = -(-(w * ch) // hmax)  # component size in samples (A.1.1)
        chh = -(-(h * cv) // vmax)
        state["comps"][cid] = {
            "coefs": np.zeros((bh * bw, 64), dtype=np.int32),
            "bw": bw,
            "tbw": -(-cw // 8),  # TRUE block grid (non-interleaved scans)
            "tbh": -(-chh // 8),
            "ch": ch, "cv": cv, "tq": tq, "qtab": None,
        }
    return state


def _prog_scan(data, pos, body, prog, hufftabs, qtabs, restart):
    """Decode one progressive scan's entropy data; returns the new pos."""
    ns = body[0]
    scomps = [
        (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 15)
        for i in range(ns)
    ]
    off = 1 + 2 * ns
    ss, se = body[off], body[off + 1]
    ah, al = body[off + 2] >> 4, body[off + 2] & 15
    for cs, _td, _ta in scomps:
        if cs not in prog["comps"]:
            raise ValueError("jpeg: scan references unknown component")
        c = prog["comps"][cs]
        if c["qtab"] is None:
            if c["tq"] not in qtabs:
                raise ValueError("jpeg: component references missing DQT")
            c["qtab"] = qtabs[c["tq"]]
    reader = _BitReader(data, pos)
    if ss == 0:
        if se != 0:
            raise ValueError("jpeg: DC scan with nonzero Se")
        _prog_dc_scan(reader, scomps, prog, ah, al, restart, hufftabs)
    else:
        if ns != 1:
            raise ValueError("jpeg: interleaved AC scan")
        if se > 63:
            raise ValueError("jpeg: bad AC spectral band")
        _prog_ac_scan(reader, scomps[0], prog, ss, se, ah, al, restart,
                      hufftabs)
    return reader.pos


def _prog_dc_scan(reader, scomps, prog, ah, al, restart, hufftabs):
    tabs = {}
    if ah == 0:
        for cs, td, _ta in scomps:
            if (0, td) not in hufftabs:
                raise ValueError("jpeg: scan references missing huffman table")
            tabs[cs] = hufftabs[(0, td)]
    preds = {cs: 0 for cs, _, _ in scomps}
    interleaved = len(scomps) > 1
    if interleaved:
        nunits = prog["mcux"] * prog["mcuy"]
    else:
        c0 = prog["comps"][scomps[0][0]]
        nunits = c0["tbw"] * c0["tbh"]
    for idx in range(nunits):
        if restart and idx and idx % restart == 0:
            reader.restart()
            preds = {cs: 0 for cs, _, _ in scomps}
        if interleaved:
            my, mx = divmod(idx, prog["mcux"])
            for cs, _td, _ta in scomps:
                c = prog["comps"][cs]
                for by in range(c["cv"]):
                    for bx in range(c["ch"]):
                        blk = c["coefs"][
                            (my * c["cv"] + by) * c["bw"] + mx * c["ch"] + bx
                        ]
                        _prog_dc_unit(reader, blk, tabs.get(cs), preds, cs,
                                      ah, al)
        else:
            cs = scomps[0][0]
            c = prog["comps"][cs]
            row, col = divmod(idx, c["tbw"])
            blk = c["coefs"][row * c["bw"] + col]
            _prog_dc_unit(reader, blk, tabs.get(cs), preds, cs, ah, al)


def _prog_dc_unit(reader, blk, tab, preds, cs, ah, al):
    if ah == 0:  # first pass: huffman-coded point-transformed diffs
        size = _decode_symbol(reader, tab)
        diff = reader.receive_extend(size) if size else 0
        preds[cs] += diff
        blk[0] = preds[cs] << al
    elif reader.read_bit():  # refinement: one magnitude bit per block
        blk[0] |= 1 << al


def _prog_ac_scan(reader, scomp, prog, ss, se, ah, al, restart, hufftabs):
    cs, _td, ta = scomp
    if (1, ta) not in hufftabs:
        raise ValueError("jpeg: scan references missing huffman table")
    act = hufftabs[(1, ta)]
    c = prog["comps"][cs]
    coefs, bw, tbw = c["coefs"], c["bw"], c["tbw"]
    unit = _prog_ac_first_unit if ah == 0 else _prog_ac_refine_unit
    eobrun = 0
    for idx in range(tbw * c["tbh"]):
        if restart and idx and idx % restart == 0:
            reader.restart()
            eobrun = 0
        row, col = divmod(idx, tbw)
        eobrun = unit(reader, coefs[row * bw + col], act, ss, se, al, eobrun)


def _prog_ac_first_unit(r, blk, act, ss, se, al, eobrun):
    """First AC pass for one block (T.81 G.1.2.2): run/size coding with
    EOBn run-length symbols. Returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_symbol(r, act)
        rr, s = rs >> 4, rs & 15
        if s == 0:
            if rr != 15:  # EOBn: run of 2^rr + bits all-zero bands
                eobrun = (1 << rr) - 1
                if rr:
                    eobrun += r.receive(rr)
                return eobrun
            k += 16  # ZRL
            continue
        k += rr
        if k > se:
            raise ValueError("jpeg: AC coefficient overrun")
        blk[k] = r.receive_extend(s) << al
        k += 1
    return 0


def _prog_ac_refine_unit(r, blk, act, ss, se, al, eobrun):
    """AC successive-approximation refinement for one block (T.81
    G.1.2.3): newly-nonzero coefficients arrive as ±1<<al, every
    previously-nonzero coefficient crossed gets a correction bit."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_symbol(r, act)
            rr, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if rr != 15:  # EOBn: corrections continue below
                    eobrun = 1 << rr
                    if rr:
                        eobrun += r.receive(rr)
                    break
                # ZRL: skip 16 zero-history positions with corrections
            else:
                if s != 1:
                    raise ValueError("jpeg: bad refinement magnitude")
                newval = p1 if r.read_bit() else -p1
            while k <= se:
                if blk[k] != 0:
                    if r.read_bit() and not (blk[k] & p1):
                        blk[k] += p1 if blk[k] > 0 else -p1
                else:
                    if rr == 0:
                        if s:
                            blk[k] = newval
                        k += 1
                        break
                    rr -= 1
                k += 1
    if eobrun > 0:  # tail of an EOB run: correction bits only
        while k <= se:
            if blk[k] != 0 and r.read_bit() and not (blk[k] & p1):
                blk[k] += p1 if blk[k] > 0 else -p1
            k += 1
        eobrun -= 1
    return eobrun


def _prog_reconstruct(prog):
    parts = []
    for cid in prog["order"]:
        c = prog["comps"][cid]
        if c["qtab"] is None:
            raise ValueError("jpeg: component never scanned")
        parts.append((c["coefs"], c["bw"], c["ch"], c["cv"], c["qtab"]))
    return _reconstruct(parts, prog["h"], prog["w"], prog["hmax"],
                        prog["vmax"])


# --- encoder ---------------------------------------------------------------

# Fixed-length canonical tables: every DC size symbol (0-11) at 4 bits,
# every AC (run,size) symbol plus EOB/ZRL (162 total) at 8 bits. Both leave
# the all-ones code unused as T.81 requires.
_DC_SYMS = list(range(12))
_AC_SYMS = sorted([0x00, 0xF0] + [(r << 4) | s for r in range(16)
                                  for s in range(1, 11)])
_DC_ENC = {s: (i, 4) for i, s in enumerate(_DC_SYMS)}
_AC_ENC = {s: (i, 8) for i, s in enumerate(_AC_SYMS)}
_DC_BITS = bytes([0, 0, 0, 12] + [0] * 12)
_AC_BITS = bytes([0] * 7 + [162] + [0] * 8)


class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def write(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _magnitude(v: int) -> tuple[int, int]:
    """(size, low-order bits) encoding of a DC diff / AC level (T.81 F.1.2)."""
    size = abs(v).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _encode_blocks(writer: _BitWriter, zz, pred: int) -> int:
    """Entropy-encode one component block (zigzag int array) and return the
    updated DC predictor."""
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    code, ln = _DC_ENC[size]
    writer.write(code, ln)
    if size:
        writer.write(bits, size)
    run = 0
    last = 0
    nz = [k for k in range(1, 64) if zz[k]]
    for k in nz:
        run = k - last - 1
        while run >= 16:
            code, ln = _AC_ENC[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        size, bits = _magnitude(int(zz[k]))
        code, ln = _AC_ENC[(run << 4) | size]
        writer.write(code, ln)
        writer.write(bits, size)
        last = k
    if last != 63:
        code, ln = _AC_ENC[0x00]  # EOB
        writer.write(code, ln)
    return dc


def _plane_blocks(plane, target_h: int, target_w: int):
    """Edge-pad a plane to (target_h, target_w) and return its zigzagged,
    rounded DCT coefficient array (nblocks, 64) in block row-major order."""
    import numpy as np

    h, w = plane.shape
    plane = np.pad(plane, ((0, target_h - h), (0, target_w - w)),
                   mode="edge")
    bh, bw = target_h // 8, target_w // 8
    blocks = (
        plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        .reshape(bh * bw, 8, 8).astype(np.float64) - 128.0
    )
    m_basis = _dct_matrix()
    coefs = np.einsum("ik,nkl,jl->nij", m_basis, blocks, m_basis)
    # AC magnitudes fit size<=10 for 8-bit input in exact arithmetic; clamp
    # defensively so a rounding pathology can never emit a size-11 AC symbol
    zz = np.rint(coefs[:, _ZZ_ROW, _ZZ_COL]).astype(np.int64)
    zz[:, 1:] = np.clip(zz[:, 1:], -1023, 1023)
    return zz, bw


def _prep_encode(arr, subsample: bool, grayscale: bool):
    """Shared encode front half (colorspace, optional 4:2:0 downsample,
    DCT+zigzag per component): (h, w, encoded[(zz, bw, ch, cv)], mcux,
    mcuy).  Used by the baseline, progressive and arithmetic encoders."""
    import numpy as np

    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("jpeg: bad encode dimensions")
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    yp = 0.299 * r + 0.587 * g + 0.114 * b
    if grayscale:
        comps = [(yp, 1, 1)]
    else:
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            eh, ew = (h + 1) & ~1, (w + 1) & ~1
            def down(p):
                p = np.pad(p, ((0, eh - h), (0, ew - w)), mode="edge")
                return (p.reshape(eh // 2, 2, ew // 2, 2)
                        .mean(axis=(1, 3)))
            comps = [(yp, 2, 2), (down(cb), 1, 1), (down(cr), 1, 1)]
        else:
            comps = [(yp, 1, 1), (cb, 1, 1), (cr, 1, 1)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    encoded = []
    for plane, ch, cv in comps:
        zz, bw = _plane_blocks(
            np.clip(np.rint(plane), 0, 255),
            mcuy * cv * 8, mcux * ch * 8,
        )
        encoded.append((zz, bw, ch, cv))
    return h, w, encoded, mcux, mcuy


def encode_jpeg(arr, subsample: bool = False, grayscale: bool = False,
                restart_interval: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JPEG bytes with all-ones quant
    tables (near-lossless; block-flat grays round-trip exactly).
    ``subsample`` emits 4:2:0 (2x2-mean chroma), ``grayscale`` a
    1-component luma frame, ``restart_interval`` a DRI segment + RSTn
    markers every that many MCUs (predictors reset, as T.81 requires)."""
    h, w, encoded, mcux, mcuy = _prep_encode(arr, subsample, grayscale)
    comps = [(None, ch, cv) for _zz, _bw, ch, cv in encoded]

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT: id 0, 8-bit precision, all-ones table (shared by every comp)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
    nc = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, (_p, ch, cv) in enumerate(comps):
        sof += bytes([i + 1, (ch << 4) | cv, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, bits, syms in ((0, _DC_BITS, _DC_SYMS), (1, _AC_BITS, _AC_SYMS)):
        body = bytes([tc << 4]) + bits + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    writer = _BitWriter()
    preds = [0] * nc
    for idx in range(mcuy * mcux):
        if restart_interval and idx and idx % restart_interval == 0:
            writer.flush()
            out += writer.out
            out += bytes([0xFF, 0xD0 + (idx // restart_interval - 1) % 8])
            writer = _BitWriter()
            preds = [0] * nc
        my, mx = divmod(idx, mcux)
        for ci, (zz, bw, ch, cv) in enumerate(encoded):
            for by in range(cv):
                for bx in range(ch):
                    blk = zz[(my * cv + by) * bw + mx * ch + bx]
                    preds[ci] = _encode_blocks(writer, blk, preds[ci])
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive encoder ------------------------------------------------------
# Emits the common web progression: DC first at Al=1 + DC refinement, then
# per component two spectral AC bands (1-5, 6-63) each at Al=1 followed by
# its refinement scan — exercising spectral selection, successive
# approximation, EOB runs, ZRL-in-refinement and buffered correction bits
# (T.81 annex G). 4:4:4 color / grayscale, all-ones quant tables like
# encode_jpeg. Exists so fixtures and property tests can synthesize REAL
# progressive streams without an image library; the decoder above is the
# production path.

# AC table for progressive scans: the sequential table lacks the EOBn
# symbols (r<<4 for r=1..14). 176 symbols, all at 8 bits, canonical,
# all-ones code unused.
_AC_SYMS_PROG = sorted(
    [0xF0] + [r << 4 for r in range(15)]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_ENC_PROG = {s: (i, 8) for i, s in enumerate(_AC_SYMS_PROG)}
_AC_BITS_PROG = bytes([0] * 7 + [len(_AC_SYMS_PROG)] + [0] * 8)

_PROG_BANDS = ((1, 5), (6, 63))


def _emit_eobrun(w: _BitWriter, eobrun: int, bebuf: list[int]) -> None:
    if eobrun:
        e = eobrun.bit_length() - 1
        code, ln = _AC_ENC_PROG[e << 4]
        w.write(code, ln)
        if e:
            w.write(eobrun - (1 << e), e)
        for b in bebuf:
            w.write(b, 1)
        bebuf.clear()


def _enc_ac_first(w: _BitWriter, blocks, ss: int, se: int, al: int) -> None:
    eobrun = 0
    for zz in blocks:
        vals = []
        for k in range(ss, se + 1):
            v = int(zz[k])
            a = abs(v) >> al
            vals.append(a if v >= 0 else -a)
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(w, eobrun, [])
                eobrun = 0
            continue
        _emit_eobrun(w, eobrun, [])
        eobrun = 0
        last = -1
        for i in nz:
            run = i - last - 1
            while run >= 16:
                code, ln = _AC_ENC_PROG[0xF0]
                w.write(code, ln)
                run -= 16
            size, bits = _magnitude(vals[i])
            code, ln = _AC_ENC_PROG[(run << 4) | size]
            w.write(code, ln)
            w.write(bits, size)
            last = i
        if last != se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(w, eobrun, [])
                eobrun = 0
    _emit_eobrun(w, eobrun, [])


def _enc_ac_refine(w: _BitWriter, blocks, ss: int, se: int, al: int) -> None:
    """Refinement scan encoder (T.81 fig. G.7, with libjpeg's fold-ZRL-
    into-EOB refinement): correction bits ride after the symbol they are
    associated with, buffered across EOB runs."""
    eobrun = 0
    bebuf: list[int] = []
    for zz in blocks:
        absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        eobpos = -1  # last newly-nonzero position in this block
        for i, a in enumerate(absv):
            if a == 1:
                eobpos = i
        r = 0
        br: list[int] = []
        for i, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            while r > 15 and i <= eobpos:
                _emit_eobrun(w, eobrun, bebuf)
                eobrun = 0
                code, ln = _AC_ENC_PROG[0xF0]
                w.write(code, ln)
                r -= 16
                for b in br:
                    w.write(b, 1)
                br = []
            if a > 1:  # previously nonzero: one correction bit
                br.append(a & 1)
                continue
            _emit_eobrun(w, eobrun, bebuf)
            eobrun = 0
            code, ln = _AC_ENC_PROG[(r << 4) | 1]
            w.write(code, ln)
            w.write(1 if int(zz[ss + i]) >= 0 else 0, 1)
            for b in br:
                w.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            bebuf.extend(br)
            if eobrun == 0x7FFF or len(bebuf) > 937:
                _emit_eobrun(w, eobrun, bebuf)
                eobrun = 0
    _emit_eobrun(w, eobrun, bebuf)


def encode_jpeg_progressive(
    arr, grayscale: bool = False, subsample: bool = False
) -> bytes:
    """(h, w, 3) uint8 RGB -> progressive (SOF2) JPEG bytes. Same
    coefficients as encode_jpeg's matching path (all-ones quant;
    ``subsample`` emits 4:2:0 with 2x2-mean chroma), reordered into
    successive-approximation scans, so
    decode_jpeg(encode_jpeg_progressive(x)) == decode_jpeg(encode_jpeg(x))
    exactly. 4:2:0 matters for coverage: the interleaved DC scans walk
    the MCU-PADDED block grid while AC scans walk each component's TRUE
    block grid — the two addressings only differ when sampling factors
    differ."""
    import numpy as np

    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("jpeg: bad encode dimensions")
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    yp = 0.299 * r + 0.587 * g + 0.114 * b
    if grayscale:
        comps = [(yp, 1, 1)]
    else:
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            eh, ew = (h + 1) & ~1, (w + 1) & ~1

            def down(p):
                p = np.pad(p, ((0, eh - h), (0, ew - w)), mode="edge")
                return p.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))

            comps = [(yp, 2, 2), (down(cb), 1, 1), (down(cr), 1, 1)]
        else:
            comps = [(yp, 1, 1), (cb, 1, 1), (cr, 1, 1)]
    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    encoded = []  # (zz blocks over padded grid, bw, ch, cv, tbw, tbh)
    for plane, ch, cv in comps:
        zz, bw = _plane_blocks(
            np.clip(np.rint(plane), 0, 255), mcuy * cv * 8, mcux * ch * 8
        )
        tbw = -(-(-(-(w * ch) // hmax)) // 8)
        tbh = -(-(-(-(h * cv) // vmax)) // 8)
        encoded.append((zz, bw, ch, cv, tbw, tbh))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, (_p, ch, cv) in enumerate(comps):
        sof += bytes([i + 1, (ch << 4) | cv, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    body = bytes([0x00]) + _DC_BITS + bytes(_DC_SYMS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    body = bytes([0x10]) + _AC_BITS_PROG + bytes(_AC_SYMS_PROG)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    def sos(comp_ids, ss, se, ah, al):
        hdr = bytes([len(comp_ids)])
        for ci in comp_ids:
            hdr += bytes([ci + 1, 0x00])
        hdr += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(hdr)) + hdr

    def mcu_dc_blocks():
        """DC-scan block order: MCU walk, ch x cv blocks per component."""
        for idx in range(mcuy * mcux):
            my, mx = divmod(idx, mcux)
            for ci, (zz, bw, ch, cv, _tw, _th) in enumerate(encoded):
                for by in range(cv):
                    for bx in range(ch):
                        yield ci, zz[(my * cv + by) * bw + mx * ch + bx]

    def true_grid_blocks(ci):
        """AC-scan block order: the component's true block grid."""
        zz, bw, _ch, _cv, tbw, tbh = encoded[ci]
        for row in range(tbh):
            for col in range(tbw):
                yield zz[row * bw + col]

    # scan 1: DC first, interleaved, Al=1
    out += sos(list(range(nc)), 0, 0, 0, 1)
    w_ = _BitWriter()
    preds = [0] * nc
    for ci, blk in mcu_dc_blocks():
        dc = int(blk[0]) >> 1
        size, bits = _magnitude(dc - preds[ci])
        code, ln = _DC_ENC[size]
        w_.write(code, ln)
        if size:
            w_.write(bits, size)
        preds[ci] = dc
    w_.flush()
    out += w_.out
    # scan 2: DC refinement, Ah=1 -> Al=0
    out += sos(list(range(nc)), 0, 0, 1, 0)
    w_ = _BitWriter()
    for _ci, blk in mcu_dc_blocks():
        w_.write(int(blk[0]) & 1, 1)
    w_.flush()
    out += w_.out
    # per component: AC first then AC refinement, per spectral band
    for ci in range(nc):
        for ss, se in _PROG_BANDS:
            out += sos([ci], ss, se, 0, 1)
            w_ = _BitWriter()
            _enc_ac_first(w_, true_grid_blocks(ci), ss, se, 1)
            w_.flush()
            out += w_.out
        for ss, se in _PROG_BANDS:
            out += sos([ci], ss, se, 1, 0)
            w_ = _BitWriter()
            _enc_ac_refine(w_, true_grid_blocks(ci), ss, se, 0)
            w_.flush()
            out += w_.out
    out += b"\xff\xd9"
    return bytes(out)
