"""JPEG (JFIF) decoder — pure Python, no codec library.

JPEG's Huffman processes are entropy coding + an 8×8 DCT, both plain
arithmetic, so like PNG (stdlib DEFLATE) and GIF (hand-rolled LZW) the
format is decodable here without any media dependency. Supported:
baseline (SOF0), extended sequential (SOF1), and **progressive (SOF2)**
Huffman streams at 8-bit precision — grayscale or 3-component YCbCr,
any h/v sampling factors (4:4:4, 4:2:2, 4:2:0, ...), restart intervals,
multi-table DQT/DHT segments, multi-scan files, spectral selection and
successive approximation (DC/AC first + refinement passes with EOB-run
semantics), byte stuffing, and fill bytes. Not supported (raise
ValueError): arithmetic coding, lossless/hierarchical processes, 12-bit
precision, CMYK.

Architecture: every scan — sequential or progressive — accumulates into
per-component coefficient block grids (a sequential scan is simply the
Ss=0..Se=63, Ah=Al=0 special case), and one render pass at EOI does
dequantize → IDCT → level shift → chroma upsample → YCbCr→RGB. The
IDCT is the separable float transform; everything else is
integer-exact, so a constant block round-trips bit-exactly through the
matching test encoder.

Reference parity note: the reference pipeline never decodes media
(single-node pandas+rdflib, Code/create_yelp_nt_files.py operates on
JSON only). No build, query, CLI or driver path calls this module; it
stands alone as a candidate decoder for the one swap point in
``multimodal._decode_one``.
"""

from __future__ import annotations

import math
import struct

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# separable IDCT basis: C[u][x] = c(u)/2 * cos((2x+1)u*pi/16)
_IDCT_C = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0) / 2.0 * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]

_SOF_SUPPORTED = (0xC0, 0xC1, 0xC2)  # baseline, extended sequential, progressive
_SOF_UNSUPPORTED = (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    destuffing; stops at any real marker and reports it."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None or self.pos >= len(self.data):
            # past a marker (or truncated): the spec pads with 1-bits
            self.acc = (self.acc << 8) | 0xFF
            self.nbits += 8
            return
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                self.marker = nxt
                self.pos += 1
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int | None:
        """Drop partial bits and return the pending marker (consuming it)."""
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            while self.pos + 1 < len(self.data):
                if self.data[self.pos] == 0xFF and self.data[self.pos + 1] not in (0x00, 0xFF):
                    self.marker = self.data[self.pos + 1]
                    self.pos += 2
                    break
                self.pos += 1
        m = self.marker
        self.marker = None
        return m

    def resume_pos(self) -> int:
        """Byte position of the next marker's 0xFF, for the outer marker
        walk to continue after this scan's entropy data."""
        if self.marker is not None:
            return self.pos - 2  # marker bytes were consumed by _fill
        p = self.pos
        while p + 1 < len(self.data):
            if self.data[p] == 0xFF and self.data[p + 1] not in (0x00, 0xFF):
                return p
            p += 1
        return len(self.data)


def _build_huffman(counts: bytes, symbols: bytes) -> dict[tuple[int, int], int]:
    """(length, code) → symbol, per the canonical code assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _decode_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG signed-magnitude EXTEND: t-bit value v → signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _idct_block(coef: list[float]) -> list[int]:
    """2-D separable IDCT on a dequantized (natural-order) block →
    level-shifted, clamped 0..255 samples."""
    tmp = [0.0] * 64
    for y in range(8):  # rows: 1-D IDCT over u
        base = y * 8
        row = coef[base : base + 8]
        for x in range(8):
            s = 0.0
            for u in range(8):
                if row[u]:
                    s += row[u] * _IDCT_C[u][x]
            tmp[base + x] = s
    out = [0] * 64
    for x in range(8):  # cols: 1-D IDCT over v
        col = [tmp[v * 8 + x] for v in range(8)]
        for y in range(8):
            s = 0.0
            for v in range(8):
                if col[v]:
                    s += col[v] * _IDCT_C[v][y]
            p = int(round(s)) + 128
            out[y * 8 + x] = 0 if p < 0 else (255 if p > 255 else p)
    return out


def is_jpeg(payload: bytes | None) -> bool:
    """True if the payload is a Huffman JPEG we decode for real —
    baseline, extended sequential, or progressive. Arithmetic-coded and
    lossless processes return False (they'd raise in ``jpeg_rgb``)."""
    if payload is None or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return False
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return False
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (spec B.1.1.2)
            pos += 1
            continue
        if marker in _SOF_SUPPORTED:
            return True
        if marker in _SOF_UNSUPPORTED or marker == 0xD9:
            return False
        size = struct.unpack_from(">H", payload, pos + 2)[0]
        pos += 2 + size
    return False


class _Frame:
    """Frame state shared by every scan: geometry plus the per-component
    coefficient block grids scans accumulate into (zigzag order)."""

    def __init__(self, width: int, height: int, comps: list, progressive: bool):
        if width <= 0 or height <= 0:
            raise ValueError("JPEG with non-positive dimensions")
        self.width = width
        self.height = height
        self.comps = comps  # [(cid, h, v, tq)]
        self.progressive = progressive
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcux = (width + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcuy = (height + 8 * self.vmax - 1) // (8 * self.vmax)
        # full interleaved grids; non-interleaved scans cover a sub-grid
        self.bw = [self.mcux * c[1] for c in comps]
        self.bh = [self.mcuy * c[2] for c in comps]
        self.coefs = [
            [[0] * 64 for _ in range(self.bw[i] * self.bh[i])]
            for i in range(len(comps))
        ]
        # non-interleaved block coverage: ceil(ceil(dim * f / fmax) / 8)
        self.bw_ni = [
            ((width * c[1] + self.hmax - 1) // self.hmax + 7) // 8 for c in comps
        ]
        self.bh_ni = [
            ((height * c[2] + self.vmax - 1) // self.vmax + 7) // 8 for c in comps
        ]


def jpeg_rgb(payload: bytes) -> tuple[int, int, bytes]:
    """REAL decode of a Huffman JPEG (sequential or progressive) to a
    top-down row-major RGB byte string."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame: _Frame | None = None
    saw_scan = False
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (spec B.1.1.2)
            pos += 1
            continue
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        size = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2 : pos + size]
        if marker == 0xDB:  # DQT: one or more tables
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                qtables[tq] = list(body[i : i + 64])
                i += 64
            pos += size
        elif marker == 0xC4:  # DHT: one or more tables
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = body[i + 1 : i + 17]
                n = sum(counts)
                symbols = body[i + 17 : i + 17 + n]
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(counts, symbols)
                i += 17 + n
            pos += size
        elif marker in _SOF_SUPPORTED:
            precision, height, width, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise ValueError(f"{precision}-bit JPEG not supported")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = struct.unpack_from("BBB", body, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = _Frame(width, height, comps, marker == 0xC2)
            pos += size
        elif marker in _SOF_UNSUPPORTED:
            raise ValueError("arithmetic/lossless/hierarchical JPEG not supported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
            pos += size
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan_comps = []
            cid_to_ci = {c[0]: i for i, c in enumerate(frame.comps)}
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                if cid not in cid_to_ci:
                    raise ValueError("JPEG scan names an unknown component")
                scan_comps.append((cid_to_ci[cid], tabs >> 4, tabs & 0x0F))
            ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            if not frame.progressive:
                ss, se, ah, al = 0, 63, 0, 0  # sequential = the full band
            if se > 63 or ss > se:
                raise ValueError("invalid JPEG spectral band")
            pos = _decode_scan(
                payload, pos + size, frame, scan_comps, ss, se, ah, al,
                huff_dc, huff_ac, restart_interval,
            )
            saw_scan = True
        else:  # APPn, COM, DNL, ...: skip
            pos += size
    if frame is None or not saw_scan:
        raise ValueError("JPEG without a scan")
    return _render(frame, qtables)


def _decode_scan(
    data: bytes,
    pos: int,
    frame: _Frame,
    scan_comps: list[tuple[int, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    huff_dc,
    huff_ac,
    restart_interval: int,
) -> int:
    """Decode one scan's entropy data into the frame's coefficient grids;
    returns the byte position of the marker that follows the scan."""
    r = _BitReader(data, pos)
    interleaved = len(scan_comps) > 1
    pred = [0] * len(scan_comps)
    state = {"eobrun": 0}

    def block_tables(si: int):
        ci, dct, act = scan_comps[si]
        dc_t = huff_dc.get(dct) if ss == 0 else None
        ac_t = huff_ac.get(act) if se > 0 else None
        if ss == 0 and ah == 0 and dc_t is None:
            raise ValueError("JPEG scan references an undefined DC table")
        if se > 0 and ac_t is None:
            raise ValueError("JPEG scan references an undefined AC table")
        return ci, dc_t, ac_t

    def decode_block(si: int, blk: list[int]) -> None:
        _ci, dc_t, ac_t = block_tables(si)
        if ss == 0:
            if ah == 0:  # DC first (or the DC part of a sequential scan)
                t = _decode_symbol(r, dc_t)
                pred[si] += _extend(r.bits(t), t)
                blk[0] = pred[si] << al
            else:  # DC refinement: one bit
                if r.bit():
                    blk[0] |= 1 << al
        if se == 0:
            return
        k0 = max(1, ss)
        if ah == 0:  # AC first (also the AC part of a sequential scan)
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                return
            k = k0
            while k <= se:
                rs = _decode_symbol(r, ac_t)
                rrr, sss = rs >> 4, rs & 0x0F
                if sss == 0:
                    if rrr == 15:  # ZRL
                        k += 16
                        continue
                    state["eobrun"] = (1 << rrr) - 1
                    if rrr:
                        state["eobrun"] += r.bits(rrr)
                    break  # EOBn: this block's band ends here
                k += rrr
                if k > se:
                    raise ValueError("JPEG AC run past band end")
                blk[k] = _extend(r.bits(sss), sss) << al
                k += 1
        else:  # AC refinement (G.1.2.3 / libjpeg decode_mcu_AC_refine)
            p1 = 1 << al
            m1 = -1 << al

            def correct(k: int) -> None:
                if r.bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1

            k = k0
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                while k <= se:
                    if blk[k]:
                        correct(k)
                    k += 1
                return
            while k <= se:
                rs = _decode_symbol(r, ac_t)
                rrr, sss = rs >> 4, rs & 0x0F
                if sss == 0:
                    if rrr != 15:  # EOBn: corrections to end of band
                        state["eobrun"] = (1 << rrr) - 1
                        if rrr:
                            state["eobrun"] += r.bits(rrr)
                        while k <= se:
                            if blk[k]:
                                correct(k)
                            k += 1
                        return
                    newval = 0  # ZRL: pass 16 zero-history positions
                else:
                    if sss != 1:
                        raise ValueError("JPEG AC refinement size must be 1")
                    newval = p1 if r.bit() else m1
                # advance rrr zero-history positions, correcting nonzeros
                while k <= se:
                    if blk[k]:
                        correct(k)
                    else:
                        if rrr == 0:
                            break
                        rrr -= 1
                    k += 1
                if newval and k <= se:
                    blk[k] = newval
                k += 1

    def handle_restart(n_mcu: int) -> None:
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            m = r.align_to_marker()
            if m is None or not (0xD0 <= m <= 0xD7):
                raise ValueError("missing JPEG restart marker")
            for i in range(len(pred)):
                pred[i] = 0
            state["eobrun"] = 0

    if interleaved:
        n_mcu = 0
        for my in range(frame.mcuy):
            for mx in range(frame.mcux):
                handle_restart(n_mcu)
                for si, (ci, _dct, _act) in enumerate(scan_comps):
                    _cid, h, v, _tq = frame.comps[ci]
                    for by in range(v):
                        for bx in range(h):
                            row = my * v + by
                            col = mx * h + bx
                            decode_block(si, frame.coefs[ci][row * frame.bw[ci] + col])
                n_mcu += 1
    else:
        ci = scan_comps[0][0]
        n_mcu = 0
        for row in range(frame.bh_ni[ci]):
            for col in range(frame.bw_ni[ci]):
                handle_restart(n_mcu)
                decode_block(0, frame.coefs[ci][row * frame.bw[ci] + col])
                n_mcu += 1
    return r.resume_pos()


def _render(frame: _Frame, qtables) -> tuple[int, int, bytes]:
    """Dequantize + IDCT every accumulated block into sample planes,
    then upsample/convert to RGB."""
    planes = []
    for ci, (_cid, h, v, tq) in enumerate(frame.comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("JPEG frame references an undefined quant table")
        pw = frame.bw[ci] * 8
        plane = bytearray(pw * frame.bh[ci] * 8)
        for bi, zz in enumerate(frame.coefs[ci]):
            coef = [0.0] * 64
            for i in range(64):
                if zz[i]:
                    coef[ZIGZAG[i]] = float(zz[i] * q[i])
            block = _idct_block(coef)
            x0 = (bi % frame.bw[ci]) * 8
            y0 = (bi // frame.bw[ci]) * 8
            for yy in range(8):
                row0 = (y0 + yy) * pw + x0
                plane[row0 : row0 + 8] = bytes(block[yy * 8 : yy * 8 + 8])
        planes.append(plane)
    return _planes_to_rgb(frame, planes)


def _planes_to_rgb(frame: _Frame, planes) -> tuple[int, int, bytes]:
    width, height, comps = frame.width, frame.height, frame.comps
    rgb = bytearray(width * height * 3)
    if len(comps) == 1:
        pw = frame.bw[0] * 8
        plane = planes[0]
        for y in range(height):
            for x in range(width):
                g = plane[y * pw + x]
                d = (y * width + x) * 3
                rgb[d] = rgb[d + 1] = rgb[d + 2] = g
        return width, height, bytes(rgb)
    if len(comps) != 3:
        raise ValueError("only grayscale and 3-component YCbCr supported")
    strides = [frame.bw[ci] * 8 for ci in range(3)]
    hmax, vmax = frame.hmax, frame.vmax
    for y in range(height):
        for x in range(width):
            samples = []
            for ci, (_cid, h, v, _tq) in enumerate(comps):
                # nearest-neighbor chroma upsample to full resolution
                sx = x * h // hmax
                sy = y * v // vmax
                samples.append(planes[ci][sy * strides[ci] + sx])
            yy, cb, cr = samples
            rr = yy + 1.402 * (cr - 128)
            gg = yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
            bb = yy + 1.772 * (cb - 128)
            d = (y * width + x) * 3
            rgb[d] = 0 if rr < 0 else (255 if rr > 255 else int(rr + 0.5))
            rgb[d + 1] = 0 if gg < 0 else (255 if gg > 255 else int(gg + 0.5))
            rgb[d + 2] = 0 if bb < 0 else (255 if bb > 255 else int(bb + 0.5))
    return width, height, bytes(rgb)
