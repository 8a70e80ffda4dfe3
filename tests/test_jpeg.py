"""JPEG decoder tests: minimal matching *encoders* live here — a
sequential one (FDCT + canonical fixed-length Huffman + byte stuffing)
and a progressive one (DC/AC first + refinement scans with EOB-run
accumulation) — so the decoder is exercised by genuine entropy-coded
streams. With all-ones quant tables a constant block round-trips
bit-exactly (its DCT is a lone integer DC coefficient); structured
images round-trip to within DCT rounding; and every progressive decode
must be byte-identical to the sequential decode of the same raster,
since both code the same quantized coefficients."""

import math
import struct

import pytest

from yckg_spark.operators.jpeg import _IDCT_C, ZIGZAG, is_jpeg, jpeg_rgb


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _fdct(block):
    """Forward 8x8 DCT (exact transpose of the decoder's IDCT basis):
    input natural-order level-shifted samples, output F[v*8+u]."""
    tmp = [
        [sum(block[y * 8 + x] * _IDCT_C[v][y] for y in range(8)) for x in range(8)]
        for v in range(8)
    ]
    return [
        sum(tmp[v][x] * _IDCT_C[u][x] for x in range(8))
        for v in range(8)
        for u in range(8)
    ]


def _cat(v):
    a, t = abs(v), 0
    while a:
        t += 1
        a >>= 1
    return t


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def pad(self):
        """Byte-align with 1-bits (the spec's padding)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _block_symbols(zz):
    """(dc_category, ac_symbols) the block will need, plus the encoded
    (symbol, extra_bits, n_extra) stream for the AC part."""
    ac = []
    k = 1
    while k < 64:
        run = 0
        while k < 64 and zz[k] == 0:
            run += 1
            k += 1
        if k == 64:
            ac.append((0x00, 0, 0))  # EOB
            break
        while run > 15:
            ac.append((0xF0, 0, 0))  # ZRL
            run -= 16
        v = zz[k]
        t = _cat(v)
        bits = v if v >= 0 else v + (1 << t) - 1
        ac.append(((run << 4) | t, bits, t))
        k += 1
    return ac


def _canonical_fixed(symbols):
    """counts/symbols arrays giving every symbol the same code length
    (enough slots that the all-ones code stays unused), plus the
    symbol→(code, length) map."""
    syms = sorted(set(symbols))
    length = 1
    while (1 << length) < len(syms) + 1:
        length += 1
    counts = [0] * 16
    counts[length - 1] = len(syms)
    return bytes(counts), bytes(syms), {s: (i, length) for i, s in enumerate(syms)}


def _seg(marker, body):
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _rgb_to_ycbcr(r, g, b):
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128 + 0.5 * r - 0.418688 * g - 0.081312 * b
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else int(v + 0.5))
    return clamp(y), clamp(cb), clamp(cr)


def make_jpeg(width, height, rgb_rows, gray=False, sampling=(1, 1), dri=0, qval=1):
    """Assemble a baseline JFIF stream. ``rgb_rows`` is height rows of
    (r,g,b) tuples. ``sampling`` is the luma (h,v) factor (chroma is
    always (1,1)), so (2,2) = 4:2:0. ``qval`` fills both quant tables."""
    hs, vs = (1, 1) if gray else sampling
    hmax, vmax = hs, vs
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)

    # component planes, edge-replicated to the MCU grid
    def plane(get, pw, ph, sw, sh):
        p = [[0] * pw for _ in range(ph)]
        for y in range(ph):
            for x in range(pw):
                p[y][x] = get(min(x, sw - 1), min(y, sh - 1))
        return p

    if gray:
        comps = [(1, 1, 1, 0)]
        planes = [
            plane(lambda x, y: rgb_rows[y][x][0], mcux * 8, mcuy * 8, width, height)
        ]
    else:
        ycc = [[_rgb_to_ycbcr(*px) for px in row] for row in rgb_rows]
        comps = [(1, hs, vs, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [
            plane(lambda x, y: ycc[y][x][0], mcux * hs * 8, mcuy * vs * 8, width, height)
        ]
        # chroma at 1/hs x 1/vs resolution: box-average the full-res samples
        cw, ch = (width + hs - 1) // hs, (height + vs - 1) // vs
        for ci in (1, 2):
            def get(x, y, ci=ci):
                acc = n = 0
                for dy in range(vs):
                    for dx in range(hs):
                        sx, sy = x * hs + dx, y * vs + dy
                        if sx < width and sy < height:
                            acc += ycc[sy][sx][ci]
                            n += 1
                return int(acc / n + 0.5)
            planes.append(plane(get, mcux * 8, mcuy * 8, cw, ch))

    q = [qval] * 64

    # pass 1: quantized zigzag blocks in MCU emission order
    blocks = []  # (comp_index, zz)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_cid, h, v, _tq) in enumerate(comps):
                for by in range(v):
                    for bx in range(h):
                        p = planes[ci]
                        x0, y0 = (mx * h + bx) * 8, (my * v + by) * 8
                        blk = [
                            p[y0 + yy][x0 + xx] - 128
                            for yy in range(8)
                            for xx in range(8)
                        ]
                        f = _fdct(blk)
                        zz = [int(round(f[ZIGZAG[i]] / q[i])) for i in range(64)]
                        blocks.append((ci, zz))

    # pass 2: symbol inventory -> shared Huffman tables (id 0 for all)
    dc_syms, ac_syms = set(), set()
    pred = [0] * len(comps)
    per_mcu = sum(c[1] * c[2] for c in comps)
    for i, (ci, zz) in enumerate(blocks):
        if dri and i % (per_mcu * dri) == 0 and i:
            pred = [0] * len(comps)
        diff = zz[0] - pred[ci]
        pred[ci] = zz[0]
        dc_syms.add(_cat(diff))
        for sym, _b, _t in _block_symbols(zz):
            ac_syms.add(sym)
    dc_counts, dc_symbols, dc_map = _canonical_fixed(dc_syms)
    ac_counts, ac_symbols, ac_map = _canonical_fixed(ac_syms)

    # pass 3: entropy-coded data
    w = _BitWriter()
    pred = [0] * len(comps)
    rst = 0
    for i, (ci, zz) in enumerate(blocks):
        if dri and i and i % (per_mcu * dri) == 0:
            w.pad()
            w.out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            pred = [0] * len(comps)
        diff = zz[0] - pred[ci]
        pred[ci] = zz[0]
        t = _cat(diff)
        code, ln = dc_map[t]
        w.write(code, ln)
        if t:
            bits = diff if diff >= 0 else diff + (1 << t) - 1
            w.write(bits, t)
        for sym, bits, nb in _block_symbols(zz):
            code, ln = ac_map[sym]
            w.write(code, ln)
            if nb:
                w.write(bits, nb)
    w.pad()

    out = bytearray(b"\xff\xd8")
    zzq = bytes(q)  # all-equal table: zigzag reorder is the identity
    out += _seg(0xDB, bytes([0x00]) + zzq + bytes([0x01]) + zzq)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for cid, h, v, tq in comps:
        sof += bytes([cid, (h << 4) | v, tq])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, bytes([0x00]) + dc_counts + dc_symbols
                + bytes([0x10]) + ac_counts + ac_symbols)
    if dri:
        out += _seg(0xDD, struct.pack(">H", dri))
    sos = bytes([len(comps)])
    for cid, _h, _v, _tq in comps:
        sos += bytes([cid, 0x00])  # dc table 0, ac table 0 for everyone
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


def _gray_rows(width, height, fn):
    return [[(fn(x, y),) * 3 for x in range(width)] for y in range(height)]


def test_jpeg_gray_constant_exact():
    """A constant grayscale image is a lone integer DC coefficient per
    block with q=1 — the decode is bit-exact."""
    jp = make_jpeg(16, 8, _gray_rows(16, 8, lambda x, y: 77), gray=True)
    assert is_jpeg(jp)
    w, h, rgb = jpeg_rgb(jp)
    assert (w, h) == (16, 8)
    assert rgb == bytes([77] * (16 * 8 * 3))


def test_jpeg_gray_gradient_close():
    """Non-multiple-of-8 dims (edge-replicated padding, cropped decode)
    and real AC coefficients: q=1 round-trip within DCT rounding."""
    jp = make_jpeg(10, 6, _gray_rows(10, 6, lambda x, y: 20 * x + 10 * y), gray=True)
    w, h, rgb = jpeg_rgb(jp)
    assert (w, h) == (10, 6)
    for y in range(6):
        for x in range(10):
            assert abs(rgb[(y * 10 + x) * 3] - (20 * x + 10 * y)) <= 1


def test_jpeg_color_444():
    """Solid-color 4:4:4 blocks: exact through the DCT, so the only
    error is the YCbCr round-trip rounding (<= 2 per channel)."""
    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (128, 64, 32)]
    rows = [
        [colors[(x // 8 + y // 8) % 4] for x in range(16)] for y in range(16)
    ]
    jp = make_jpeg(16, 16, rows)
    w, h, rgb = jpeg_rgb(jp)
    assert (w, h) == (16, 16)
    for y in range(16):
        for x in range(16):
            want = colors[(x // 8 + y // 8) % 4]
            got = rgb[(y * 16 + x) * 3 : (y * 16 + x) * 3 + 3]
            assert all(abs(a - b) <= 2 for a, b in zip(got, want))


def test_jpeg_420_subsampled():
    """4:2:0 with spatially constant chroma: subsampling is lossless, so
    error stays at YCbCr rounding even through the 2x2 luma MCUs."""
    # one hue, luma varying by 8x8 block -> chroma constant per image
    rows = [
        [(200 if (x // 8) % 2 else 80,) * 3 for x in range(32)] for y in range(16)
    ]
    jp = make_jpeg(32, 16, rows, sampling=(2, 2))
    w, h, rgb = jpeg_rgb(jp)
    assert (w, h) == (32, 16)
    for y in range(16):
        for x in range(32):
            want = 200 if (x // 8) % 2 else 80
            got = rgb[(y * 32 + x) * 3 : (y * 32 + x) * 3 + 3]
            assert all(abs(c - want) <= 2 for c in got)


def test_jpeg_restart_markers():
    """DRI=1 inserts an RSTn between every MCU; the decoder must realign
    and reset DC predictors, reproducing the no-DRI decode exactly."""
    rows = _gray_rows(24, 8, lambda x, y: (x * 11 + y * 3) % 256)
    plain = jpeg_rgb(make_jpeg(24, 8, rows, gray=True))
    with_rst = jpeg_rgb(make_jpeg(24, 8, rows, gray=True, dri=1))
    assert with_rst == plain


def test_jpeg_coarse_quantization_still_decodes():
    """qval=16: lossy for real. The decode must stay within the
    worst-case quantization bound for a smooth ramp."""
    rows = _gray_rows(8, 8, lambda x, y: 8 * x + 100)
    w, h, rgb = jpeg_rgb(make_jpeg(8, 8, rows, gray=True, qval=16))
    for y in range(8):
        for x in range(8):
            assert abs(rgb[(y * 8 + x) * 3] - (8 * x + 100)) <= 24


def test_is_jpeg_rejects_arithmetic_and_junk():
    rows = _gray_rows(8, 8, lambda x, y: 10)
    good = make_jpeg(8, 8, rows, gray=True)
    assert is_jpeg(good)
    # flip SOF0 (0xC0) to SOF9 (0xC9 arithmetic sequential)
    i = good.index(b"\xff\xc0")
    arith = good[:i] + b"\xff\xc9" + good[i + 2 :]
    assert not is_jpeg(arith)
    with pytest.raises(ValueError, match="arithmetic"):
        jpeg_rgb(arith)
    assert not is_jpeg(b"\xff\xd8-fake-2")
    with pytest.raises(ValueError):
        jpeg_rgb(good[: len(good) // 2] + b"\xff\xd9")


def test_jpeg_fill_bytes_before_markers():
    """0xFF fill bytes may pad before any marker (B.1.1.2); the walk must
    skip them in both the probe and the decode."""
    rows = _gray_rows(8, 8, lambda x, y: 55)
    good = make_jpeg(8, 8, rows, gray=True)
    i = good.index(b"\xff\xc0")
    padded = good[:i] + b"\xff\xff\xff" + good[i:]
    assert is_jpeg(padded)
    assert jpeg_rgb(padded) == jpeg_rgb(good)


# ---------------------------------------------------------------------------
# progressive encoder (spectral selection + successive approximation)
# ---------------------------------------------------------------------------


def _quantized_blocks(width, height, rgb_rows, gray, sampling, qval):
    """The shared front half of make_jpeg: component geometry plus
    quantized zigzag blocks in interleaved MCU order, exposed so the
    progressive encoder codes the exact same coefficients."""
    hs, vs = (1, 1) if gray else sampling
    mcux = (width + 8 * hs - 1) // (8 * hs)
    mcuy = (height + 8 * vs - 1) // (8 * vs)

    def plane(get, pw, ph, sw, sh):
        return [
            [get(min(x, sw - 1), min(y, sh - 1)) for x in range(pw)]
            for y in range(ph)
        ]

    if gray:
        comps = [(1, 1, 1, 0)]
        planes = [plane(lambda x, y: rgb_rows[y][x][0], mcux * 8, mcuy * 8, width, height)]
    else:
        ycc = [[_rgb_to_ycbcr(*px) for px in row] for row in rgb_rows]
        comps = [(1, hs, vs, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [plane(lambda x, y: ycc[y][x][0], mcux * hs * 8, mcuy * vs * 8, width, height)]
        cw, ch = (width + hs - 1) // hs, (height + vs - 1) // vs
        for ci in (1, 2):
            def get(x, y, ci=ci):
                acc = n = 0
                for dy in range(vs):
                    for dx in range(hs):
                        sx, sy = x * hs + dx, y * vs + dy
                        if sx < width and sy < height:
                            acc += ycc[sy][sx][ci]
                            n += 1
                return int(acc / n + 0.5)
            planes.append(plane(get, mcux * 8, mcuy * 8, cw, ch))

    q = [qval] * 64
    # per-component block grids in raster order (full interleaved grid)
    grids = []
    for ci, (_cid, h, v, _tq) in enumerate(comps):
        bw, bh = mcux * h, mcuy * v
        grid = []
        for row in range(bh):
            for col in range(bw):
                p = planes[ci]
                blk = [p[row * 8 + yy][col * 8 + xx] - 128 for yy in range(8) for xx in range(8)]
                f = _fdct(blk)
                grid.append([int(round(f[ZIGZAG[i]] / q[i])) for i in range(64)])
        grids.append((grid, bw, bh))
    return comps, grids, mcux, mcuy, q


class _ScanWriter(_BitWriter):
    """BitWriter plus the symbol/EOB-run machinery progressive scans
    share. Symbols go through a two-pass flow: collect first (to build
    the Huffman table), then emit."""

    def __init__(self, dc_map=None, ac_map=None):
        super().__init__()
        self.dc_map = dc_map
        self.ac_map = ac_map
        self.dc_syms = set()
        self.ac_syms = set()
        self.emitting = dc_map is not None

    def dc(self, sym, bits, n):
        self.dc_syms.add(sym)
        if self.emitting:
            code, ln = self.dc_map[sym]
            self.write(code, ln)
            if n:
                self.write(bits, n)

    def ac(self, sym, bits, n):
        self.ac_syms.add(sym)
        if self.emitting:
            code, ln = self.ac_map[sym]
            self.write(code, ln)
            if n:
                self.write(bits, n)

    def raw(self, bits_list):
        if self.emitting:
            for b in bits_list:
                self.write(b, 1)


def _trunc_tozero(v, al):
    a = abs(v) >> al
    return a if v >= 0 else -a


def _emit_dc_first(w, grids, comps, mcux, mcuy, al):
    pred = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_cid, h, v, _tq) in enumerate(comps):
                grid, bw, _bh = grids[ci]
                for by in range(v):
                    for bx in range(h):
                        zz0 = grid[(my * v + by) * bw + (mx * h + bx)][0]
                        val = zz0 >> al  # DC point transform: arithmetic shift
                        diff = val - pred[ci]
                        pred[ci] = val
                        t = _cat(diff)
                        bits = diff if diff >= 0 else diff + (1 << t) - 1
                        w.dc(t, bits, t)


def _emit_dc_refine(w, grids, comps, mcux, mcuy, al):
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_cid, h, v, _tq) in enumerate(comps):
                grid, bw, _bh = grids[ci]
                for by in range(v):
                    for bx in range(h):
                        zz0 = grid[(my * v + by) * bw + (mx * h + bx)][0]
                        w.raw([(zz0 >> al) & 1])


def _flush_eob(w, pending, corrections):
    """Emit the EOBn symbol for ``pending`` blocks plus their buffered
    correction bits (refinement scans only)."""
    if not pending:
        return 0, []
    r = pending.bit_length() - 1
    extra = pending - (1 << r)
    w.ac(r << 4, extra, r)
    w.raw(corrections)
    return 0, []


def _emit_ac_first(w, grid_bw, ni_bw, ni_bh, ss, se, al):
    grid, bw, _bh = grid_bw
    pending = 0
    for row in range(ni_bh):
        for col in range(ni_bw):
            zz = grid[row * bw + col]
            vals = {k: _trunc_tozero(zz[k], al) for k in range(ss, se + 1)}
            if not any(vals.values()):
                pending += 1
                if pending == 0x7FFF:
                    pending, _ = _flush_eob(w, pending, [])
                continue
            pending, _ = _flush_eob(w, pending, [])
            run = 0
            last_nz = max(k for k, v in vals.items() if v)
            for k in range(ss, last_nz + 1):
                v = vals[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    w.ac(0xF0, 0, 0)
                    run -= 16
                t = _cat(v)
                bits = v if v >= 0 else v + (1 << t) - 1
                w.ac((run << 4) | t, bits, t)
                run = 0
            if last_nz < se:
                pending = 1  # trailing zeros need an EOB covering this block
    _flush_eob(w, pending, [])


def _emit_ac_refine(w, grid_bw, ni_bw, ni_bh, ss, se, al):
    grid, bw, _bh = grid_bw
    pending = 0
    pend_corr = []
    for row in range(ni_bh):
        for col in range(ni_bw):
            zz = grid[row * bw + col]
            scaled = {k: _trunc_tozero(zz[k], al) for k in range(ss, se + 1)}
            newly = [k for k in range(ss, se + 1) if abs(scaled[k]) == 1]
            if not newly:
                # EOB block: corrections for history-nonzero coefficients
                pending += 1
                pend_corr += [abs(scaled[k]) & 1 for k in range(ss, se + 1)
                              if abs(scaled[k]) > 1]
                if pending == 0x7FFF:
                    pending, pend_corr = _flush_eob(w, pending, pend_corr)
                continue
            pending, pend_corr = _flush_eob(w, pending, pend_corr)
            run = 0
            buffered = []
            for k in range(ss, se + 1):
                a = abs(scaled[k])
                if a > 1:  # history-nonzero: correction bit
                    buffered.append(a & 1)
                elif a == 1 and k <= max(newly):
                    while run > 15:
                        w.ac(0xF0, 0, 0)
                        w.raw(buffered)
                        buffered = []
                        run -= 16
                    w.ac((run << 4) | 1, 0, 0)
                    w.raw([1 if scaled[k] > 0 else 0])
                    w.raw(buffered)
                    buffered = []
                    run = 0
                elif a == 1:
                    pass  # unreachable: k <= max(newly) for all a == 1
                else:
                    run += 1
            if run > 0 or buffered:
                pending = 1
                pend_corr = list(buffered)
    _flush_eob(w, pending, pend_corr)


def make_progressive_jpeg(width, height, rgb_rows, gray=False, sampling=(1, 1),
                          qval=1, dc_al=1, ac_al=1, bands=((1, 5), (6, 63))):
    """Progressive JFIF: DC-first at Al=dc_al, DC refinements down to 0,
    then per component per spectral band an AC-first at Al=ac_al and AC
    refinements down to 0. Codes the exact coefficients make_jpeg codes,
    so the decode must match the sequential decode byte-for-byte."""
    comps, grids, mcux, mcuy, q = _quantized_blocks(
        width, height, rgb_rows, gray, sampling, qval
    )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    # scan plan: (kind, ci_or_None, ss, se, ah, al)
    plan = [("dc_first", None, 0, 0, 0, dc_al)]
    for al in range(dc_al - 1, -1, -1):
        plan.append(("dc_refine", None, 0, 0, al + 1, al))
    for ci in range(len(comps)):
        for (ss, se) in bands:
            plan.append(("ac_first", ci, ss, se, 0, ac_al))
            for al in range(ac_al - 1, -1, -1):
                plan.append(("ac_refine", ci, ss, se, al + 1, al))

    def run_scan(w, kind, ci, ss, se, ah, al):
        if kind == "dc_first":
            _emit_dc_first(w, grids, comps, mcux, mcuy, al)
        elif kind == "dc_refine":
            _emit_dc_refine(w, grids, comps, mcux, mcuy, al)
        else:
            _cid, h, v, _tq = comps[ci]
            ni_bw = ((width * h + hmax - 1) // hmax + 7) // 8
            ni_bh = ((height * v + vmax - 1) // vmax + 7) // 8
            if kind == "ac_first":
                _emit_ac_first(w, grids[ci], ni_bw, ni_bh, ss, se, al)
            else:
                _emit_ac_refine(w, grids[ci], ni_bw, ni_bh, ss, se, al)

    out = bytearray(b"\xff\xd8")
    zzq = bytes(q)
    out += _seg(0xDB, bytes([0x00]) + zzq + bytes([0x01]) + zzq)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for cid, h, v, tq in comps:
        sof += bytes([cid, (h << 4) | v, tq])
    out += _seg(0xC2, sof)  # SOF2: progressive

    for kind, ci, ss, se, ah, al in plan:
        # pass 1: symbol inventory for this scan's tables
        probe = _ScanWriter()
        run_scan(probe, kind, ci, ss, se, ah, al)
        dht = b""
        dc_map = ac_map = None
        if probe.dc_syms:
            c_, s_, dc_map = _canonical_fixed(probe.dc_syms)
            dht += bytes([0x00]) + c_ + s_
        if probe.ac_syms:
            c_, s_, ac_map = _canonical_fixed(probe.ac_syms)
            dht += bytes([0x10]) + c_ + s_
        if dht:
            out += _seg(0xC4, dht)
        # pass 2: emit
        w = _ScanWriter(dc_map or {}, ac_map or {})
        run_scan(w, kind, ci, ss, se, ah, al)
        w.pad()
        if kind.startswith("dc"):
            scan_cis = list(range(len(comps)))
        else:
            scan_cis = [ci]
        sos = bytes([len(scan_cis)])
        for i in scan_cis:
            sos += bytes([comps[i][0], 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        out += w.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive tests
# ---------------------------------------------------------------------------


def test_progressive_equals_sequential_gray():
    """The strong oracle: progressive scans accumulate the exact same
    coefficients the sequential scan codes, so the decodes must be
    byte-identical (the sequential path is independently pinned against
    hand-computed DCT math)."""
    rows = _gray_rows(10, 6, lambda x, y: (17 * x + 29 * y) % 256)
    seq = jpeg_rgb(make_jpeg(10, 6, rows, gray=True))
    prog = make_progressive_jpeg(10, 6, rows, gray=True)
    assert is_jpeg(prog)
    assert jpeg_rgb(prog) == seq


def test_progressive_equals_sequential_color_420():
    """Color + 4:2:0 sampling: interleaved DC scans over multi-block
    MCUs, non-interleaved AC scans over each component's own grid."""
    rows = [
        [((x * 13) % 256, (y * 31) % 256, ((x + y) * 7) % 256) for x in range(20)]
        for y in range(12)
    ]
    seq = jpeg_rgb(make_jpeg(20, 12, rows, sampling=(2, 2)))
    prog = make_progressive_jpeg(20, 12, rows, sampling=(2, 2))
    assert jpeg_rgb(prog) == seq


def test_progressive_deep_successive_approximation():
    """dc_al=3 / ac_al=2: several refinement layers per coefficient, so
    the bit-accumulation identities (DC |= , AC +-1<<al) are exercised
    across multiple passes."""
    rows = _gray_rows(16, 16, lambda x, y: (x * x + y * 37) % 256)
    seq = jpeg_rgb(make_jpeg(16, 16, rows, gray=True))
    prog = make_progressive_jpeg(16, 16, rows, gray=True, dc_al=3, ac_al=2,
                                 bands=((1, 2), (3, 9), (10, 63)))
    assert jpeg_rgb(prog) == seq


def test_progressive_eobrun_spans_blocks():
    """A mostly-flat image leaves high-frequency bands empty across many
    consecutive blocks — the encoder accumulates a multi-block EOB run
    and the decoder's eobrun skip must land back in sync."""
    rows = _gray_rows(64, 16, lambda x, y: 200 if x == 0 and y == 0 else 60)
    seq = jpeg_rgb(make_jpeg(64, 16, rows, gray=True))
    prog = make_progressive_jpeg(64, 16, rows, gray=True)
    assert jpeg_rgb(prog) == seq


def test_progressive_coarse_quantization():
    """Progressive layering composes with real quantization loss: the
    two encodings still agree exactly (same quantized coefficients)."""
    rows = _gray_rows(24, 8, lambda x, y: (x * 23 + y * 5) % 256)
    seq = jpeg_rgb(make_jpeg(24, 8, rows, gray=True, qval=16))
    prog = make_progressive_jpeg(24, 8, rows, gray=True, qval=16)
    assert jpeg_rgb(prog) == seq
