"""Baseline JPEG (JFIF) decoder — stdlib + numpy, no codec library.

The one multimodal family VERDICT r4 called partial: JPEG is the
dominant image format of any web-scale corpus, and until round 5 every
JPEG blob landed in the poison channel. This module implements the
ITU-T T.81 BASELINE SEQUENTIAL (SOF0, plus SOF1 extended sequential —
identical decode path at 8-bit precision) and PROGRESSIVE (SOF2,
huffman) processes:

* marker parse (SOI/APPn/COM/DQT/SOF/DHT/SOS/DRI/RSTn/EOI),
* canonical Huffman decode of the entropy-coded segments (byte
  de-stuffing, restart-interval handling with DC-predictor reset),
* progressive scan accumulation: DC/AC spectral selection,
  successive-approximation first + refinement passes, EOB runs,
  non-interleaved single-component scans — baseline is decoded as the
  degenerate single full-band scan of the same engine,
* dequantization + vectorized 2-D IDCT (one einsum over all blocks of
  a component — the numpy island does the math; only the entropy
  decode is sequential, which is inherent to Huffman),
* chroma upsampling (sample replication per JFIF) and YCbCr→RGB.

Unsupported variants FAIL FAST with a precise reason and route to the
poison channel, never mis-decode: arithmetic coding (SOF9+), lossless,
hierarchical, 12-bit precision, 4-component (Adobe CMYK) images.

SCALE: one blob decodes in one task — parallelism comes from Spark
partitioning of the blob table (operators/multimodal.py routes batches
through mapInPandas). Nothing here touches Spark.

No reference counterpart (the reference is spreadsheets-only,
src/schema_validata.py); format layout follows the public ITU-T T.81 /
JFIF 1.02 specifications.
"""

from __future__ import annotations

import struct

# zigzag scan order: zigzag index -> natural (row-major) index
ZIGZAG = [
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

_SOF_UNSUPPORTED = {
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _idct_matrix():
    import numpy as np
    c = np.empty((8, 8))
    for u in range(8):
        s = (1 / 8) ** 0.5 if u == 0 else (2 / 8) ** 0.5
        for x in range(8):
            c[u, x] = s * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_IDCT_C = None


def _huff_table(bits: list[int], vals: bytes) -> "_HuffTable":
    """Canonical Huffman per T.81 Annex C, compiled to an 8-bit
    prefix lookup (one dict probe per symbol for the common short
    codes) with a (size, code) map fallback for 9-16-bit codes."""
    table = {}
    code = 0
    k = 0
    for size in range(1, 17):
        for _ in range(bits[size - 1]):
            table[(size, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return _HuffTable(table)


class _HuffTable:
    __slots__ = ("lut", "long")

    def __init__(self, table: dict):
        self.long = table
        self.lut = [None] * 256
        for (size, code), val in table.items():
            if size <= 8:
                base = code << (8 - size)
                for i in range(1 << (8 - size)):
                    self.lut[base + i] = (val, size)


class _BitReader:
    """MSB-first bit reader over a de-stuffed entropy segment."""
    __slots__ = ("data", "pos", "bitbuf", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            if self.pos < len(self.data):
                self.bitbuf = (self.bitbuf << 8) | self.data[self.pos]
                self.pos += 1
                self.nbits += 8
            else:
                # past-the-end pad with 1s (T.81 F.2.2.5 marker fill);
                # a well-formed scan never consumes them for real data
                self.bitbuf = (self.bitbuf << 8) | 0xFF
                self.nbits += 8

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        self.nbits -= n
        v = (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        self.bitbuf &= (1 << self.nbits) - 1
        return v

    def decode_huff(self, table: "_HuffTable") -> int:
        self._fill(16)
        peek = (self.bitbuf >> (self.nbits - 16)) & 0xFFFF
        hit = table.lut[peek >> 8]
        if hit is not None:
            self.nbits -= hit[1]
            self.bitbuf &= (1 << self.nbits) - 1
            return hit[0]
        longmap = table.long
        for size in range(9, 17):
            v = longmap.get((size, peek >> (16 - size)))
            if v is not None:
                self.nbits -= size
                self.bitbuf &= (1 << self.nbits) - 1
                return v
        raise ValueError("invalid Huffman code in scan data")


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _split_scan(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``pos``: de-stuff 0xFF00 and split at
    restart markers. Returns (segments, position of the terminating
    marker's 0xFF)."""
    segs: list[bytearray] = [bytearray()]
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            segs[-1].append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            break
        m = data[pos + 1]
        if m == 0x00:                      # stuffed data byte
            segs[-1].append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:            # restart marker
            segs.append(bytearray())
            pos += 2
        else:                              # real marker ends the scan
            break
    return [bytes(s) for s in segs], pos


def decode_jpeg(data: bytes):
    """Decode a baseline OR progressive JPEG → numpy uint8 array
    (h, w, channels), channels 1 (grayscale) or 3 (RGB). Baseline
    (SOF0/SOF1) decodes its single interleaved scan; progressive
    (SOF2, round-5) accumulates every scan — DC/AC spectral selection
    and successive approximation, first and refinement passes, EOB
    runs, restart intervals — into per-component coefficient grids and
    reconstructs at EOI. Raises ValueError with a precise reason on
    anything unsupported or corrupt (arithmetic coding, lossless,
    hierarchical, 12-bit, CMYK)."""
    import numpy as np
    global _IDCT_C
    if _IDCT_C is None:
        _IDCT_C = _idct_matrix()

    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, "np.ndarray"] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None            # (h, w, [(cid, hi, vi, tq)], progressive)
    grids = None            # cid -> int32 (bh_pad*bw_pad, 64) zigzag
    geom = None             # (mcux, mcuy, hmax, vmax, per-comp dims)
    restart_interval = 0
    saw_scan = False
    pos = 2
    n = len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:                 # EOI
            break
        if 0xD0 <= marker <= 0xD7:         # stray RSTn between scans
            pos += 2
            continue
        if pos + 4 > n:
            raise ValueError("truncated marker segment")
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError(f"truncated segment 0x{marker:02X}")
        if marker == 0xDB:                 # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    vals = list(body[i:i + 64])
                    i += 64
                else:
                    vals = [v for (v,) in struct.iter_unpack(
                        ">H", body[i:i + 128])]
                    i += 128
                if len(vals) != 64:
                    raise ValueError("truncated DQT")
                t = np.zeros(64, dtype=np.float64)
                for z, v in enumerate(vals):
                    t[ZIGZAG[z]] = v
                qt[tq] = t.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            if len(body) < 6:
                raise ValueError("short SOF segment")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"{prec}-bit precision unsupported "
                                 "(baseline is 8-bit)")
            if nc not in (1, 3):
                raise ValueError(f"{nc}-component image unsupported "
                                 "(grayscale or YCbCr only)")
            if h == 0 or w == 0:
                raise ValueError("zero-dimension image")
            if len(body) < 6 + 3 * nc:
                raise ValueError("short SOF component list")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            # every factor, not just the maxima: a 0 factor divides by
            # zero in the upsampling
            if not all(1 <= hi <= 4 and 1 <= vi <= 4
                       for _cid, hi, vi, _tq in comps):
                raise ValueError("bad sampling factors")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            dims = {}
            for cid, hi, vi, _tq in comps:
                cw = (w * hi + hmax - 1) // hmax
                chh = (h * vi + vmax - 1) // vmax
                dims[cid] = ((chh + 7) // 8, (cw + 7) // 8,  # real grid
                             mcuy * vi, mcux * hi)            # padded
            geom = (mcux, mcuy, hmax, vmax, dims)
            grids = {cid: np.zeros((dims[cid][2] * dims[cid][3], 64),
                                   dtype=np.int32) for cid, *_ in comps}
            frame = (h, w, comps, marker == 0xC2)
        elif marker in _SOF_UNSUPPORTED:
            raise ValueError(f"{_SOF_UNSUPPORTED[marker]} JPEG "
                             "unsupported (baseline sequential and "
                             "progressive huffman only)")
        elif marker == 0xC4:               # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                cnt = sum(bits)
                vals = body[i + 17:i + 17 + cnt]
                if len(vals) != cnt:
                    raise ValueError("truncated DHT")
                (dc_tabs if tc == 0 else ac_tabs)[th] = \
                    _huff_table(bits, vals)
                i += 17 + cnt
        elif marker == 0xDD:               # DRI
            if len(body) < 2:
                raise ValueError("short DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:               # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            h, w, comps, progressive = frame
            if len(body) < 1 or len(body) < 4 + 2 * body[0]:
                raise ValueError("short SOS segment")
            ns = body[0]
            sel = {}
            scan_comps = []
            by_id = {c[0]: c for c in comps}
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in by_id:
                    raise ValueError("scan names unknown component")
                sel[cs] = (tt >> 4, tt & 0x0F)
                scan_comps.append(by_id[cs])
            ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not progressive:
                if ns != len(comps):
                    raise ValueError("non-interleaved multi-scan "
                                     "unsupported in baseline "
                                     "(interleaved scan only)")
                ss, se, ah, al = 0, 63, 0, 0
            segs, endpos = _split_scan(data, pos + 2 + seglen)
            _entropy_scan(np, grids, geom, scan_comps, sel, dc_tabs,
                          ac_tabs, restart_interval, segs,
                          interleaved=(ns > 1 or not progressive),
                          ss=ss, se=se, ah=ah, al=al,
                          progressive=progressive)
            saw_scan = True
            if not progressive:
                return _reconstruct(np, frame, geom, grids, qt)
            pos = endpos
            continue
        pos += 2 + seglen
    if frame is None or not saw_scan:
        raise ValueError("no scan found (truncated JPEG)")
    return _reconstruct(np, frame, geom, grids, qt)


def _entropy_scan(np, grids, geom, scan_comps, sel, dc_tabs, ac_tabs,
                  ri, segs, *, interleaved, ss, se, ah, al,
                  progressive):
    """Decode ONE entropy-coded scan into the coefficient grids.
    Baseline is the progressive DC+AC first pass with ss=0, se=63,
    ah=al=0 — one shared implementation. Restart intervals switch
    segments and reset DC predictors and the EOB run."""
    mcux, mcuy, hmax, vmax, dims = geom
    dc_scan = ss == 0
    ac_scan = se > 0
    if progressive and dc_scan and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    for cid, *_ in scan_comps:
        tdc, tac = sel[cid]
        if (dc_scan and ah == 0 and tdc not in dc_tabs) or \
                (ac_scan and tac not in ac_tabs) or \
                (not progressive and (tdc not in dc_tabs
                                      or tac not in ac_tabs)):
            raise ValueError("scan references undefined huffman "
                             "tables")

    # unit list: (cid, block_index_into_grid) in decode order
    units = []
    if interleaved:
        for my in range(mcuy):
            for mx in range(mcux):
                for cid, hi, vi, _tq in scan_comps:
                    bw_pad = dims[cid][3]
                    for by in range(vi):
                        for bx in range(hi):
                            units.append(
                                (cid, (my * vi + by) * bw_pad
                                 + (mx * hi + bx)))
        per_restart = (len(units) // (mcux * mcuy)) * ri if ri else 0
    else:
        cid = scan_comps[0][0]
        bh, bw, _bhp, bw_pad = dims[cid]
        for by in range(bh):
            for bx in range(bw):
                units.append((cid, by * bw_pad + bx))
        per_restart = ri

    reader = _BitReader(segs[0])
    seg_idx = 0
    pred = {c[0]: 0 for c in scan_comps}
    eobrun = 0
    done_units = 0
    for cid, bidx in units:
        if per_restart and done_units and done_units % per_restart == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("missing restart marker segment")
            reader = _BitReader(segs[seg_idx])
            pred = {c[0]: 0 for c in scan_comps}
            eobrun = 0
        coef = grids[cid][bidx]
        tdc, tac = sel[cid]
        if dc_scan:
            if ah == 0:
                t = reader.decode_huff(dc_tabs[tdc])
                if t > 11:
                    raise ValueError("bad DC category")
                pred[cid] += _extend(reader.receive(t), t)
                coef[0] = pred[cid] << al
            else:
                if reader.receive(1):
                    coef[0] = int(coef[0]) | (1 << al)
        if ac_scan:
            lo = max(ss, 1)
            if ah == 0:
                eobrun = _ac_first(reader, ac_tabs[tac], coef, lo, se,
                                   al, eobrun)
            else:
                eobrun = _ac_refine(reader, ac_tabs[tac], coef, lo, se,
                                    al, eobrun)
        done_units += 1


def _ac_first(reader, act, coef, ss, se, al, eobrun):
    """AC first pass (T.81 G.1.2.2; baseline when ss=1, se=63, al=0)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_huff(act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                    # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            break                          # EOB for this block
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        coef[k] = _extend(reader.receive(s), s) << al
        k += 1
    return eobrun


def _ac_refine(reader, act, coef, ss, se, al, eobrun):
    """AC successive-approximation refinement (T.81 G.1.2.3): one
    correction bit per already-nonzero coefficient passed over, new
    ±1<<al coefficients placed after their zero-history run."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huff(act)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: pass over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad refinement magnitude")
                val = p1 if reader.receive(1) else -p1
            while k <= se:
                c = int(coef[k])
                if c != 0:
                    if reader.receive(1) and (c & p1) == 0:
                        coef[k] = c + (p1 if c >= 0 else -p1)
                else:
                    if r == 0:
                        if val:
                            coef[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:
            c = int(coef[k])
            if c != 0:
                if reader.receive(1) and (c & p1) == 0:
                    coef[k] = c + (p1 if c >= 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct(np, frame, geom, grids, qt):
    """Coefficient grids → pixels: dequantize, de-zigzag, one
    vectorized IDCT per component, grid → plane reshape, JFIF
    sample-replication upsampling, YCbCr→RGB."""
    h, w, comps, _prog = frame
    mcux, mcuy, hmax, vmax, dims = geom
    planes = {}
    for cid, hi, vi, tq in comps:
        if tq not in qt:
            raise ValueError("missing quantization table")
        _bh, _bw, bh_pad, bw_pad = dims[cid]
        arr = grids[cid].astype(np.float64)            # (nb, 64) zz
        nat = np.empty_like(arr)
        nat[:, ZIGZAG] = arr
        nat = nat.reshape(-1, 8, 8) * qt[tq][None, :, :]
        spat = np.einsum("ux,nuv,vy->nxy", _IDCT_C, nat, _IDCT_C)
        spat = np.clip(np.rint(spat) + 128.0, 0, 255)
        plane = (spat.reshape(bh_pad, bw_pad, 8, 8)
                     .transpose(0, 2, 1, 3)
                     .reshape(bh_pad * 8, bw_pad * 8))
        plane = np.repeat(np.repeat(plane, vmax // vi, axis=0),
                          hmax // hi, axis=1)
        planes[cid] = plane[:h, :w]
    if len(comps) == 1:
        return planes[comps[0][0]].astype(np.uint8)[:, :, None]
    y, cb, cr = (planes[c[0]] for c in comps)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def decode_jpeg_feature(data: bytes) -> list[float]:
    """decode_jpeg → the same 8-dim feature contract as ``decode_png``:
    ``[width, height, bit_depth, channels, mean_c0..mean_c3]`` with
    channel means scaled to [0, 1] and absent channels 0.0."""
    arr = decode_jpeg(data)
    h, w, channels = arr.shape
    means = arr.mean(axis=(0, 1)) / 255.0
    return ([float(w), float(h), 8.0, float(channels)]
            + [float(means[i]) if i < channels else 0.0
               for i in range(4)])


# --------------------------------------------------------------------------
# ENCODER — the symmetric half (baseline JFIF writer): Annex K quant +
# Huffman tables with libjpeg-style quality scaling, grayscale / 4:4:4 /
# 4:2:0, optional restart intervals. Engine uses: deterministic media
# fixtures (datagen/queries), thumbnail-style re-encode pipelines, and
# round-trip tests of the decoder above.

import numpy as np  # noqa: E402  (module-level: the tables below need it)

# Annex K.1 / K.2 quantization tables (natural row-major order)
QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.float64)
QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.float64)

# Annex K.3 typical Huffman tables: (bits[16], values)
DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
        list(range(12)))
DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
        list(range(12)))
AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

def _codes(bits, vals):
    out = {}
    code = 0
    k = 0
    for size in range(1, 17):
        for _ in range(bits[size - 1]):
            out[vals[k]] = (code, size)
            code += 1
            k += 1
        code <<= 1
    return out


def _fdct_matrix():
    c = np.empty((8, 8))
    for u in range(8):
        s = (1 / 8) ** 0.5 if u == 0 else (2 / 8) ** 0.5
        for x in range(8):
            c[u, x] = s * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_C = _fdct_matrix()


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, size):
        self.acc = (self.acc << size) | code
        self.nbits += size
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)        # byte stuffing
            self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-bit padding


def _scale_q(table, quality):
    q = max(1, min(100, quality))
    s = 5000 // q if q < 50 else 200 - 2 * q
    t = np.floor((table * s + 50) / 100)
    return np.clip(t, 1, 255).reshape(8, 8)


def _category(v):
    a, t = abs(v), 0
    while a:
        a >>= 1
        t += 1
    return t


def _encode_block(bw, coef_zz, pred, dc_codes, ac_codes):
    diff = coef_zz[0] - pred
    t = _category(diff)
    code, size = dc_codes[t]
    bw.write(code, size)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last = 63
    while last > 0 and coef_zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = coef_zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, size = ac_codes[0xF0]      # ZRL
            bw.write(code, size)
            run -= 16
        s = _category(v)
        code, size = ac_codes[(run << 4) | s]
        bw.write(code, size)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, size = ac_codes[0x00]          # EOB
        bw.write(code, size)
    return coef_zz[0]


def _component_blocks(plane, qtab, mcux, mcuy, hi, vi, hmax, vmax):
    """Pad plane to the MCU grid and emit quantized zigzag blocks in
    MCU raster order (hi*vi per MCU), plus per-block layout."""
    ch = mcuy * vi * 8
    cw = mcux * hi * 8
    p = np.zeros((ch, cw), dtype=np.float64)
    p[:plane.shape[0], :plane.shape[1]] = plane
    # edge replication padding keeps DC sane
    if plane.shape[0] < ch:
        p[plane.shape[0]:, :plane.shape[1]] = plane[-1:, :]
    if plane.shape[1] < cw:
        p[:, plane.shape[1]:] = p[:, plane.shape[1] - 1:plane.shape[1]]
    blocks = {}
    for gy in range(mcuy * vi):
        for gx in range(mcux * hi):
            blk = p[gy * 8:gy * 8 + 8, gx * 8:gx * 8 + 8] - 128.0
            f = _C @ blk @ _C.T
            q = np.rint(f / qtab).astype(np.int64)
            blocks[(gy, gx)] = [int(q.reshape(64)[ZIGZAG[z]])
                                for z in range(64)]
    return blocks


def encode_jpeg(arr: np.ndarray, quality: int = 85,
                subsampling: str = "444",
                restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 → JFIF bytes.
    ``subsampling``: '444' or '420' (color only). ``progressive=True``
    emits an SOF2 file with the 4-scan successive-approximation
    script (DC al=1 → per-comp AC 1-63 al=1 → DC refine → per-comp AC
    refine), each scan with its own optimized Huffman table — the
    shape real encoders produce; restart intervals are baseline-only
    here."""
    arr = np.asarray(arr)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    ql = _scale_q(QL, quality)
    qc = _scale_q(QC, quality)

    if gray:
        comps = [(1, 1, 1, 0)]
        planes = {1: arr.astype(np.float64)}
    else:
        r, g, b = (arr[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "420":
            he, we = h + (h & 1), w + (w & 1)
            cbp = np.zeros((he, we)) + 128.0
            crp = np.zeros((he, we)) + 128.0
            cbp[:h, :w], crp[:h, :w] = cb, cr
            cb = cbp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = {1: y, 2: cb, 3: cr}

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    blocks = {}
    for cid, hi, vi, tq in comps:
        blocks[cid] = _component_blocks(
            planes[cid], ql if tq == 0 else qc, mcux, mcuy, hi, vi,
            hmax, vmax)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    for tq, tab in ((0, ql),) + (() if gray else ((1, qc),)):
        zz = bytes(int(tab.reshape(64)[ZIGZAG[z]]) for z in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + zz
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") \
        + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                      len(comps))
    for cid, hi, vi, tq in comps:
        out += bytes([cid, (hi << 4) | vi, tq])
    if progressive:
        dims = {}
        for cid, hi, vi, _tq in comps:
            cw = (w * hi + hmax - 1) // hmax
            chh = (h * vi + vmax - 1) // vmax
            dims[cid] = ((chh + 7) // 8, (cw + 7) // 8)
        out += _encode_progressive(comps, blocks, mcux, mcuy, dims)
        out += b"\xff\xd9"
        return bytes(out)
    hts = [(0x00, DC_L), (0x10, AC_L)]
    if not gray:
        hts += [(0x01, DC_C), (0x11, AC_C)]
    for tid, (bits, vals) in hts:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) \
            + bytes([tid]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps),
                                     len(comps))
    for cid, _, _, tq in comps:
        out += bytes([cid, 0x00 if tq == 0 else 0x11])
    out += b"\x00\x3f\x00"

    dc_l, ac_l = _codes(*DC_L), _codes(*AC_L)
    dc_c, ac_c = _codes(*DC_C), _codes(*AC_C)
    bw = _BitWriter()
    pred = {c[0]: 0 for c in comps}
    n_mcus = mcux * mcuy
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            out += bw.out
            bw = _BitWriter()
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            pred = {c[0]: 0 for c in comps}
        my, mx = divmod(m, mcux)
        for cid, hi, vi, tq in comps:
            dcc = dc_l if tq == 0 else dc_c
            acc = ac_l if tq == 0 else ac_c
            for by in range(vi):
                for bx in range(hi):
                    blk = blocks[cid][(my * vi + by, mx * hi + bx)]
                    pred[cid] = _encode_block(bw, blk, pred[cid],
                                              dcc, acc)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# --- progressive encoding -------------------------------------------------

def _gen_optimal_table(freq256):
    """T.81 Annex K.2 Huffman optimization (the jchuff algorithm):
    frequencies → (bits[16], huffval) with ≤16-bit codes and the
    all-ones code word reserved via the fake 257th symbol."""
    freq = list(freq256) + [1]             # reserve all-ones
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = -1
        v = None
        for i, f in enumerate(freq):
            if f and (v is None or f < v or (f == v and i > c1)):
                v, c1 = f, i
        c2 = -1
        v = None
        for i, f in enumerate(freq):
            if f and i != c1 and (v is None or f < v
                                  or (f == v and i > c2)):
                v, c2 = f, i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for s in codesize:
        if s:
            bits[s] += 1
    for i in range(32, 16, -1):            # cap code length at 16
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    for i in range(16, 0, -1):             # drop the reserved symbol
        if bits[i] > 0:
            bits[i] -= 1
            break
    huffval = []
    for size in range(1, 33):
        for v in range(256):
            if codesize[v] == size:
                huffval.append(v)
    return bits[1:17], huffval[:sum(bits[1:17])]


class _CountEmitter:
    """First pass: tally symbol frequencies; raw bits are ignored."""
    def __init__(self):
        self.freq = {}                     # table_key -> [256 counts]

    def symbol(self, tkey, sym):
        self.freq.setdefault(tkey, [0] * 256)[sym] += 1

    def bits(self, value, n):
        pass

    def flush(self):
        pass


class _WriteEmitter:
    """Second pass: real Huffman emission through a _BitWriter."""
    def __init__(self, codes_by_key):
        self.bw = _BitWriter()
        self.codes = codes_by_key

    def symbol(self, tkey, sym):
        code, size = self.codes[tkey][sym]
        self.bw.write(code, size)

    def bits(self, value, n):
        if n:
            self.bw.write(value & ((1 << n) - 1), n)

    def flush(self):
        self.bw.flush()


def _dc_first_scan(em, comps, blocks, mcux, mcuy, al):
    pred = {c[0]: 0 for c in comps}
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, hi, vi, _tq in comps:
                for by in range(vi):
                    for bx in range(hi):
                        c0 = blocks[cid][(my * vi + by,
                                          mx * hi + bx)][0]
                        v = c0 >> al       # arithmetic shift (T.81 DC)
                        diff = v - pred[cid]
                        pred[cid] = v
                        t = _category(diff)
                        em.symbol(("dc", cid), t)
                        if t:
                            em.bits(diff if diff >= 0
                                    else diff + (1 << t) - 1, t)


def _dc_refine_scan(em, comps, blocks, mcux, mcuy, al):
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, hi, vi, _tq in comps:
                for by in range(vi):
                    for bx in range(hi):
                        c0 = blocks[cid][(my * vi + by,
                                          mx * hi + bx)][0]
                        em.bits((c0 >> al) & 1, 1)


def _pt(v, al):
    """AC point transform: magnitude shift toward zero (T.81 G.1.2.1)."""
    return -((-v) >> al) if v < 0 else v >> al


class _EobState:
    def __init__(self, em, tkey):
        self.em, self.tkey = em, tkey
        self.run = 0
        self.be = []                       # buffered correction bits

    def flush(self):
        if self.run > 0:
            r = self.run.bit_length() - 1
            self.em.symbol(self.tkey, r << 4)
            self.em.bits(self.run - (1 << r), r)
            self.run = 0
        for b in self.be:
            self.em.bits(b, 1)
        self.be = []


def _ac_first_scan(em, cid, blocks, bh, bw, ss, se, al, tkey):
    st = _EobState(em, tkey)
    for by in range(bh):
        for bx in range(bw):
            coef = blocks[cid][(by, bx)]
            vals = [_pt(coef[k], al) for k in range(ss, se + 1)]
            last = -1
            for i, v in enumerate(vals):
                if v:
                    last = i
            if last < 0:
                st.run += 1
                if st.run == 0x7FFF:
                    st.flush()
                continue
            st.flush()
            r = 0
            for i in range(last + 1):
                v = vals[i]
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    em.symbol(tkey, 0xF0)
                    r -= 16
                s = _category(v)
                em.symbol(tkey, (r << 4) | s)
                em.bits(v if v >= 0 else v + (1 << s) - 1, s)
                r = 0
            if last < len(vals) - 1:
                st.run += 1
                if st.run == 0x7FFF:
                    st.flush()
    st.flush()


def _ac_refine_scan(em, cid, blocks, bh, bw, ss, se, al, tkey):
    """jchuff/jcphuff encode_mcu_AC_refine: newly-significant coeffs
    as (run, 1) codes with sign bits; already-significant coeffs as
    buffered correction bits tied to the next emitted code/EOB run."""
    st = _EobState(em, tkey)
    for by in range(bh):
        for bx in range(bw):
            coef = blocks[cid][(by, bx)]
            absv = [abs(_pt(coef[k], al)) for k in range(ss, se + 1)]
            eob = -1
            for i, t in enumerate(absv):
                if t == 1:
                    eob = i                # last NEWLY-significant
            r = 0
            br = []
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    st.flush()
                    em.symbol(tkey, 0xF0)
                    r -= 16
                    for b in br:
                        em.bits(b, 1)
                    br = []
                if t > 1:                  # history coef: correction bit
                    br.append(t & 1)
                    continue
                st.flush()
                em.symbol(tkey, (r << 4) | 1)
                em.bits(1 if coef[ss + i] >= 0 else 0, 1)
                for b in br:
                    em.bits(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                st.run += 1
                st.be.extend(br)
                if st.run == 0x7FFF:
                    st.flush()
    st.flush()


def _emit_dht(tc_th, bits, vals):
    return (b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
            + bytes([tc_th]) + bytes(bits) + bytes(vals))


def _sos_header(scan_comps, table_ids, ss, se, ah, al):
    out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scan_comps),
                                    len(scan_comps))
    for cid in scan_comps:
        out += bytes([cid, table_ids[cid]])
    out += bytes([ss, se, (ah << 4) | al])
    return out


def _encode_progressive(comps, blocks, mcux, mcuy, dims):
    """Emit the scan script: DC first (al=1) → per-comp AC 1-63 first
    (al=1) → DC refine → per-comp AC refine, each with a per-scan
    OPTIMIZED Huffman table (EOBn symbols are not in the Annex K
    typical tables). Returns the bytes from the first DHT onward."""
    out = bytearray()
    scans = [("dc_first", None), ]
    for c in comps:
        scans.append(("ac_first", c[0]))
    scans.append(("dc_refine", None))
    for c in comps:
        scans.append(("ac_refine", c[0]))

    for kind, cid in scans:
        cnt = _CountEmitter()
        _run_scan(cnt, kind, cid, comps, blocks, mcux, mcuy, dims)
        codes_by_key = {}
        dht = b""
        table_ids = {}
        if kind.startswith("dc"):
            if kind == "dc_first":
                for i, c in enumerate(comps):
                    tkey = ("dc", c[0])
                    freq = cnt.freq.get(tkey, [0] * 256)
                    if not any(freq):
                        freq = list(freq)
                        freq[0] = 1
                    bits, vals = _gen_optimal_table(freq)
                    tno = min(i, 3)
                    dht += _emit_dht(0x00 | tno, bits, vals)
                    codes_by_key[tkey] = _codes(bits, vals)
                    table_ids[c[0]] = tno << 4
            else:                          # dc_refine: raw bits only
                table_ids = {c[0]: 0 for c in comps}
            scan_cids = [c[0] for c in comps]
            ss, se, ah, al = 0, 0, (1 if kind == "dc_refine" else 0), \
                (0 if kind == "dc_refine" else 1)
            if kind == "dc_refine":
                ss, se, ah, al = 0, 0, 1, 0
        else:
            tkey = ("ac", cid)
            freq = cnt.freq.get(tkey, [0] * 256)
            if not any(freq):
                freq = list(freq)
                freq[0] = 1
            bits, vals = _gen_optimal_table(freq)
            dht = _emit_dht(0x10, bits, vals)
            codes_by_key[tkey] = _codes(bits, vals)
            table_ids = {cid: 0x00}
            scan_cids = [cid]
            ss, se = 1, 63
            ah, al = (1, 0) if kind == "ac_refine" else (0, 1)

        out += dht
        out += _sos_header(scan_cids, table_ids, ss, se, ah, al)
        wr = _WriteEmitter(codes_by_key)
        _run_scan(wr, kind, cid, comps, blocks, mcux, mcuy, dims)
        wr.flush()
        out += wr.bw.out
    return bytes(out)


def _run_scan(em, kind, cid, comps, blocks, mcux, mcuy, dims):
    if kind == "dc_first":
        _dc_first_scan(em, comps, blocks, mcux, mcuy, al=1)
    elif kind == "dc_refine":
        _dc_refine_scan(em, comps, blocks, mcux, mcuy, al=0)
    else:
        bh, bw = dims[cid]
        tkey = ("ac", cid)
        if kind == "ac_first":
            _ac_first_scan(em, cid, blocks, bh, bw, 1, 63, 1, tkey)
        else:
            _ac_refine_scan(em, cid, blocks, bh, bw, 1, 63, 0, tkey)
