"""Pure-Python/numpy JPEG codec (ITU-T T.81, public spec) —
sequential baseline, progressive, AND lossless.

Decoder: full multi-scan decode — marker walk (DQT/DHT/SOF0/SOF1/
SOF2/SOF3/DRI/APP14/SOS), canonical Huffman scan decode with
byte-stuffing and restart markers, progressive spectral-selection +
successive-approximation scans (DC initial/refinement, AC
initial/refinement with EOB runs and correction bits, T.81 Annex G),
lossless predictive scans (Annex H, predictors 1-7, point transform,
2-16 bit precision), dequantization, batched 8x8 inverse DCT (one
numpy einsum over all blocks, not per-block Python loops), chroma
upsample, and color conversion: YCbCr->RGB, plus the Adobe APP14
conventions (stored RGB, inverted CMYK, YCCK) used by print-workflow
/ PDF DCTDecode files. This covers the frame types and color spaces
that make up essentially all real-world JPEG files. Corruption
anywhere — bad marker structure, invalid Huffman code, truncated
scan, band overrun — raises ValueError (the quarantine contract);
the remaining exotic frame types (hierarchical, arithmetic-coded)
raise NotImplementedError (valid-but-unsupported, like PNG Adam7 —
a faithful QM arithmetic coder needs T.81's 113-row probability
table verbatim, which cannot be reproduced from first principles).

Encoder: spec-conformant baseline, progressive, and lossless
encoders (grayscale, YCbCr, stored-RGB, CMYK/YCCK; per-component
sampling factors, restart intervals, progressive scan scripts with
successive approximation, lossless predictor/point-transform
selection).
They exist so tests and the x5b media-synthesis path can build REAL
scan-bearing JPEGs deterministically without PIL — and so every
decoder path is exercised by an independent implementation of the
bit-level format; they are not production encoders.

Reference parity note: the reference ships no codec at all — binary
payloads go to Gemini as-is (main.py:694-707); this module is part of
the from-scratch multimodal surface (SURVEY.md §2 X5).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: index i in scan order -> raster index r*8+c
ZIGZAG = []
for _s in range(15):
    _rng = range(_s + 1) if _s % 2 else reversed(range(_s + 1))
    for _i in _rng:
        _r, _c = _i, _s - _i
        if _r < 8 and _c < 8:
            ZIGZAG.append(_r * 8 + _c)
ZIGZAG = tuple(ZIGZAG)
_UNZIGZAG = np.argsort(np.array(ZIGZAG))  # raster -> scan position

# orthonormal DCT-II basis: spatial = C.T @ coeffs @ C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(1 / 8) if _k == 0 else 0.5
        )


class _HuffTable:
    """Canonical Huffman table with a flat 16-bit-peek LUT: one array
    lookup per symbol instead of a bit-by-bit tree walk (the standard
    fast-decoder structure, T.81 F.2.2.3 generalized). Entry =
    (code_length << 8) | symbol; 0 marks an invalid prefix."""

    __slots__ = ("map", "lut")

    def __init__(self, table: dict[tuple[int, int], int]) -> None:
        self.map = table
        lut = np.zeros(1 << 16, dtype=np.uint32)
        for (length, code), sym in table.items():
            start = code << (16 - length)
            lut[start : start + (1 << (16 - length))] = (length << 8) | sym
        self.lut = lut


def _build_huff(bits: bytes, vals: bytes) -> _HuffTable:
    """Huffman table from a DHT segment's BITS/HUFFVAL counts."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise ValueError("JPEG DHT HUFFVAL shorter than BITS counts")
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return _HuffTable(table)


class _Bits:
    """MSB-first bit reader over entropy-coded scan bytes. The scan is
    pre-segmented at construction: 0xFF00 stuffing is removed with ONE
    C-level ``bytes.replace`` per restart interval (not a Python
    per-byte loop) and RST markers become segment boundaries — the
    structure that makes the LUT Huffman decoder's peek/skip cycle a
    handful of int ops per symbol."""

    __slots__ = ("segs", "markers", "end", "si", "seg", "i", "acc", "n")

    def __init__(self, data: bytes, pos: int) -> None:
        segs: list[bytes] = []
        markers: list[int] = []
        n = len(data)
        start = i = pos
        end = n
        while True:
            j = data.find(b"\xff", i)
            if j < 0 or j + 1 >= n:
                segs.append(data[start:n].replace(b"\xff\x00", b"\xff"))
                break
            m = data[j + 1]
            if m == 0x00:
                i = j + 2
                continue
            segs.append(data[start:j].replace(b"\xff\x00", b"\xff"))
            if 0xD0 <= m <= 0xD7:
                markers.append(m)
                start = i = j + 2
                continue
            end = j
            break
        self.segs = segs
        self.markers = markers
        self.end = end
        self.si = 0
        self.seg = segs[0]
        self.i = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> bool:
        seg = self.seg
        i = self.i
        take = min(6, len(seg) - i)
        if take <= 0:
            return False
        self.acc = (self.acc << (8 * take)) | int.from_bytes(
            seg[i : i + take], "big"
        )
        self.n += 8 * take
        self.i = i + take
        return True

    def peek16(self) -> int:
        """Next 16 bits without consuming (zero-padded past the end of
        the entropy data — over-reads fail at skip())."""
        if self.n < 16:
            self._fill()
            if self.n < 16:
                return (self.acc << (16 - self.n)) & 0xFFFF
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def skip(self, nbits: int) -> None:
        if self.n < nbits:
            raise ValueError("JPEG scan data exhausted mid-symbol")
        self.n -= nbits
        self.acc &= (1 << self.n) - 1

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        if self.n < nbits:
            self._fill()
            if self.n < nbits:
                raise ValueError("JPEG scan data exhausted mid-symbol")
        self.n -= nbits
        v = self.acc >> self.n
        self.acc &= (1 << self.n) - 1
        return v

    def restart(self, idx: int) -> None:
        """Byte-align, consume the expected RSTn marker, resume."""
        if self.si >= len(self.markers):
            raise ValueError("JPEG missing restart marker")
        m = self.markers[self.si]
        if m != 0xD0 + (idx % 8):
            raise ValueError(
                f"JPEG expected RST{idx % 8} restart marker, got {m:#x}"
            )
        self.si += 1
        self.seg = self.segs[self.si]
        self.i = 0
        self.acc = 0
        self.n = 0


def _decode_huff(bits: _Bits, table: _HuffTable) -> int:
    e = int(table.lut[bits.peek16()])
    if e == 0:
        raise ValueError("invalid JPEG Huffman code in scan")
    bits.skip(e >> 8)
    return e & 0xFF


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1: map a `size`-bit magnitude to its signed value."""
    if size and v < (1 << (size - 1)):
        v -= (1 << size) - 1
    return v


class _Frame:
    __slots__ = (
        "precision", "width", "height", "comps", "qtables", "hdc", "hac",
        "dri", "progressive", "adobe_transform", "lossless",
    )

    def __init__(self) -> None:
        self.precision = 0
        self.width = 0
        self.height = 0
        # comps: list of (comp_id, h_samp, v_samp, quant_table_id)
        self.comps: list[tuple[int, int, int, int]] = []
        self.qtables: dict[int, np.ndarray] = {}
        self.hdc: dict[int, dict] = {}
        self.hac: dict[int, dict] = {}
        self.dri = 0
        self.progressive = False
        # APP14 "Adobe" ColorTransform byte: 0 = stored as-is
        # (RGB / CMYK), 1 = YCbCr, 2 = YCCK. None = no APP14 seen.
        self.adobe_transform: int | None = None
        self.lossless = False


def _parse_sof(fr: _Frame, body: bytes) -> None:
    if len(body) < 6:
        raise ValueError("JPEG SOF segment too short")
    fr.precision, fr.height, fr.width, ncomp = struct.unpack_from(
        ">BHHB", body
    )
    if not fr.width or not fr.height:
        raise ValueError("JPEG SOF has zero dimensions")
    if len(body) < 6 + 3 * ncomp:
        raise ValueError("JPEG SOF component list truncated")
    for i in range(ncomp):
        cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
        h, v = hv >> 4, hv & 0xF
        if not (1 <= h <= 4 and 1 <= v <= 4):
            raise ValueError(f"JPEG bad sampling factors {h}x{v}")
        fr.comps.append((cid, h, v, tq))


def _scan_end(bits: _Bits) -> int:
    """Byte position of the marker ending the entropy-coded scan
    (located during the reader's segmentation pass)."""
    return bits.end


class _ScanState:
    """Mutable per-scan entropy state (DC predictors + AC EOB run),
    reset at restart markers."""

    __slots__ = ("preds", "eobrun")

    def __init__(self, ncomp: int) -> None:
        self.reset(ncomp)

    def reset(self, ncomp: int) -> None:
        self.preds = [0] * ncomp
        self.eobrun = 0


def _decode_block_baseline(
    bits: _Bits, coef: list, st: _ScanState, ci: int, dct: _HuffTable,
    act: _HuffTable,
) -> None:
    t = _decode_huff(bits, dct)
    if t > 11:
        raise ValueError(f"JPEG DC category {t} out of range")
    st.preds[ci] += _extend(bits.read(t), t)
    coef[0] = st.preds[ci]
    k = 1
    while k < 64:
        rs = _decode_huff(bits, act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run overruns block")
        coef[k] = _extend(bits.read(s), s)
        k += 1


def _decode_block_ac_first(
    bits: _Bits, coef: np.ndarray, st: _ScanState, act: dict,
    ss: int, se: int, al: int,
) -> None:
    """Progressive AC initial scan for one block (T.81 G.2): run/size
    coding of coef >> al within the [ss, se] band, with EOB runs
    spanning blocks."""
    if st.eobrun > 0:
        st.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huff(bits, act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:
                k += 16
                continue
            st.eobrun = (1 << r) - 1 + (bits.read(r) if r else 0)
            return
        k += r
        if k > se:
            raise ValueError("JPEG progressive AC run overruns band")
        coef[k] = _extend(bits.read(s), s) << al
        k += 1


def _refine_nonzero(bits: _Bits, coef: np.ndarray, k: int, p1: int) -> None:
    """One correction bit for an already-nonzero coefficient
    (T.81 G.1.2.3): a 1-bit appends magnitude p1 toward the sign."""
    if bits.read(1):
        v = int(coef[k])
        if (abs(v) & p1) == 0:
            coef[k] = v + (p1 if v > 0 else -p1)


def _decode_block_ac_refine(
    bits: _Bits, coef: np.ndarray, st: _ScanState, act: dict,
    ss: int, se: int, al: int,
) -> None:
    """Progressive AC refinement scan for one block: newly-nonzero
    coefficients arrive as ±1<<al; coefficients already nonzero from
    earlier scans receive one correction bit each."""
    p1 = 1 << al
    k = ss
    if st.eobrun == 0:
        while k <= se:
            rs = _decode_huff(bits, act)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    st.eobrun = (1 << r) + (bits.read(r) if r else 0)
                    break
                newval = 0  # ZRL: run of 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError(
                        "JPEG AC refinement: coefficient size must be 1"
                    )
                newval = p1 if bits.read(1) else -p1
            while k <= se:
                if coef[k] != 0:
                    _refine_nonzero(bits, coef, k, p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[k] = newval
            k += 1
    if st.eobrun > 0:
        while k <= se:  # band remainder: correction bits only
            if coef[k] != 0:
                _refine_nonzero(bits, coef, k, p1)
            k += 1
        st.eobrun -= 1


def _decode_scan(
    content: bytes, fr: _Frame, stores: list[np.ndarray],
    spec: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int,
    start: int, geom: dict,
) -> int:
    """Decode one entropy-coded scan (baseline full scan, progressive
    DC initial/refinement, or progressive AC initial/refinement).
    Returns the byte offset of the marker ending the scan."""
    dc_scan = ss == 0
    if fr.progressive and dc_scan and se != 0:
        raise ValueError("JPEG progressive DC scan must have Se=0")
    if fr.progressive and not dc_scan and len(spec) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    if not fr.progressive and len(spec) != len(fr.comps):
        raise NotImplementedError(
            "JPEG sequential non-interleaved multi-scan not supported"
        )
    for ci, dc_id, ac_id in spec:
        if dc_scan and ah == 0 and dc_id not in fr.hdc:
            raise ValueError("JPEG scan references undefined DC table")
        if (not fr.progressive or not dc_scan) and not (
            fr.progressive and dc_scan
        ) and ac_id not in fr.hac:
            raise ValueError("JPEG scan references undefined AC table")

    bits = _Bits(content, start)
    st = _ScanState(len(fr.comps))
    coef = None

    interleaved = len(spec) > 1 or not fr.progressive
    if interleaved:
        units = geom["mcux"] * geom["mcuy"]
    else:
        ci = spec[0][0]
        cby, cbx = geom["cdims"][ci]
        units = cbx * cby
    n_rst = 0
    for u in range(units):
        if fr.dri and u and u % fr.dri == 0:
            bits.restart(n_rst)
            n_rst += 1
            st.reset(len(fr.comps))
        if interleaved:
            my, mx = divmod(u, geom["mcux"])
            for ci, dc_id, ac_id in spec:
                _, h, v, _tq = fr.comps[ci]
                for by in range(v):
                    for bx in range(h):
                        blk = stores[ci][my * v + by, mx * h + bx]
                        if not fr.progressive:
                            tmp = [0] * 64
                            _decode_block_baseline(
                                bits, tmp, st, ci, fr.hdc[dc_id],
                                fr.hac[ac_id],
                            )
                            blk[:] = tmp
                        elif ah == 0:  # DC initial
                            t = _decode_huff(bits, fr.hdc[dc_id])
                            if t > 11:
                                raise ValueError(
                                    f"JPEG DC category {t} out of range"
                                )
                            st.preds[ci] += _extend(bits.read(t), t)
                            blk[0] = st.preds[ci] << al
                        else:  # DC refinement: one raw bit
                            blk[0] = int(blk[0]) + (bits.read(1) << al)
        else:
            ci, dc_id, ac_id = spec[0]
            by, bx = divmod(u, geom["cdims"][ci][1])
            coef = stores[ci][by, bx]
            if dc_scan:
                if ah == 0:
                    t = _decode_huff(bits, fr.hdc[dc_id])
                    if t > 11:
                        raise ValueError(f"JPEG DC category {t} out of range")
                    st.preds[ci] += _extend(bits.read(t), t)
                    coef[0] = st.preds[ci] << al
                else:
                    coef[0] = int(coef[0]) + (bits.read(1) << al)
            elif ah == 0:
                _decode_block_ac_first(
                    bits, coef, st, fr.hac[ac_id], ss, se, al
                )
            else:
                _decode_block_ac_refine(
                    bits, coef, st, fr.hac[ac_id], ss, se, al
                )
    return _scan_end(bits)


def _decode_lossless_scan(
    content: bytes, fr: _Frame, stores: list[np.ndarray],
    spec: list[tuple[int, int, int]], predictor: int, pt: int, start: int,
) -> int:
    """Decode one lossless (SOF3, T.81 Annex H) scan: per sample, a
    DC-class Huffman SSSS category + extend bits gives the prediction
    difference; reconstruction is (prediction + diff) mod 2^16.
    Prediction rules per H.1.2.1: the first sample of the scan (and of
    every restart interval) uses the default 2^(P-Pt-1); the rest of
    the first line uses Ra; the first column uses Rb; everywhere else
    the scan-selected predictor 1-7 over Ra/Rb/Rc. Only 1x1 sampling
    is supported (the gate lives in decode_planes)."""
    tables = []
    for _ci, dc_id, _ac in spec:
        if dc_id not in fr.hdc:
            raise ValueError("JPEG lossless scan references undefined table")
        tables.append(fr.hdc[dc_id])
    bits = _Bits(content, start)
    default = 1 << (fr.precision - pt - 1)
    width = fr.width
    fresh = [True] * len(spec)
    n_rst = 0
    for m in range(fr.height * width):
        if fr.dri and m and m % fr.dri == 0:
            bits.restart(n_rst)
            n_rst += 1
            fresh = [True] * len(spec)
        y, x = divmod(m, width)
        for k, (ci, _dc, _ac) in enumerate(spec):
            t = _decode_huff(bits, tables[k])
            if t > 16:
                raise ValueError(f"JPEG lossless SSSS {t} out of range")
            diff = 32768 if t == 16 else _extend(bits.read(t), t)
            plane = stores[ci]
            if fresh[k]:
                px = default
                fresh[k] = False
            elif y == 0:
                px = int(plane[0, x - 1])
            elif x == 0:
                px = int(plane[y - 1, 0])
            else:
                ra = int(plane[y, x - 1])
                rb = int(plane[y - 1, x])
                if predictor == 1:
                    px = ra
                elif predictor == 2:
                    px = rb
                elif predictor == 7:
                    px = (ra + rb) >> 1
                else:
                    rc = int(plane[y - 1, x - 1])
                    if predictor == 3:
                        px = rc
                    elif predictor == 4:
                        px = ra + rb - rc
                    elif predictor == 5:
                        px = ra + ((rb - rc) >> 1)
                    else:  # 6
                        px = rb + ((ra - rc) >> 1)
            plane[y, x] = (px + diff) & 0xFFFF
    return _scan_end(bits)


def decode_planes(content: bytes) -> tuple[_Frame, list[np.ndarray]]:
    """Full decode (sequential baseline AND progressive) to
    per-component sample planes, each at its own sampling resolution,
    cropped to component dimensions. Walks every marker segment,
    decoding each entropy-coded scan as it appears; progressive files
    accumulate coefficients across their DC/AC spectral and
    successive-approximation scans.

    Lossless planes are the integer samples. DCT planes are the float32
    IDCT output, clipped to the sample range but not rounded, so the
    colour conversion in ``decode_pixels`` rounds once, not twice."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    fr = _Frame()
    stores: list[np.ndarray] | None = None
    geom: dict = {}
    saw_scan = False
    pos = 2
    while pos + 2 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(
                f"JPEG marker expected at {pos}, got {content[pos]:#x}"
            )
        marker = content[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker in (0x01, 0xFF):
            pos += 2
            continue
        if pos + 4 > len(content):
            raise ValueError("JPEG truncated inside marker segment")
        seg_len = struct.unpack_from(">H", content, pos + 2)[0]
        if seg_len < 2 or pos + 2 + seg_len > len(content):
            raise ValueError("JPEG segment length overruns payload")
        body = content[pos + 4 : pos + 2 + seg_len]
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):  # baseline / ext. seq.
            if fr.comps:                        # / progressive / lossless
                raise ValueError("JPEG has multiple SOF frame headers")
            fr.progressive = marker == 0xC2
            fr.lossless = marker == 0xC3
            _parse_sof(fr, body)
            if fr.lossless:
                if any((h, v) != (1, 1) for _cid, h, v, _tq in fr.comps):
                    raise NotImplementedError(
                        "JPEG lossless with subsampled components "
                        "not supported"
                    )
                if not 2 <= fr.precision <= 16:
                    raise ValueError(
                        f"JPEG lossless precision {fr.precision} invalid"
                    )
            elif fr.precision != 8:
                raise NotImplementedError(
                    f"JPEG {fr.precision}-bit DCT precision not supported"
                )
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG frame type SOF{marker - 0xC0} (hierarchical/"
                "arithmetic) not supported"
            )
        elif marker == 0xDB:  # DQT
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 0xF
                n = 64 * (2 if pq else 1)
                if bp + 1 + n > len(body):
                    raise ValueError("JPEG DQT table truncated")
                raw = body[bp + 1 : bp + 1 + n]
                fr.qtables[tq] = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int32)
                    if pq
                    else np.frombuffer(raw, dtype=np.uint8).astype(np.int32)
                )
                bp += 1 + n
        elif marker == 0xC4:  # DHT
            bp = 0
            while bp + 17 <= len(body):
                tc, th = body[bp] >> 4, body[bp] & 0xF
                bits = body[bp + 1 : bp + 17]
                nv = sum(bits)
                vals = body[bp + 17 : bp + 17 + nv]
                if len(vals) < nv:
                    raise ValueError("JPEG DHT values truncated")
                (fr.hac if tc else fr.hdc)[th] = _build_huff(bits, vals)
                bp += 17 + nv
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("JPEG DRI segment too short")
            fr.dri = struct.unpack_from(">H", body)[0]
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            # APP14 Adobe segment: version(2) flags0(2) flags1(2)
            # transform(1) after the 5-byte tag.
            fr.adobe_transform = body[11]
        elif marker == 0xDA:  # SOS
            if not fr.comps:
                raise ValueError("JPEG SOS before SOF frame header")
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                raise ValueError("JPEG SOS header truncated")
            spec = []
            cids = [c[0] for c in fr.comps]
            for i in range(ns):
                cs, tda = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in cids:
                    raise ValueError(f"JPEG SOS references unknown comp {cs}")
                spec.append((cids.index(cs), tda >> 4, tda & 0xF))
            ss, se, ahl = struct.unpack_from(">BBB", body, 1 + 2 * ns)
            ah, al = ahl >> 4, ahl & 0xF
            if fr.lossless:
                if not (1 <= ss <= 7) or se != 0 or ah != 0:
                    raise ValueError("JPEG lossless scan parameters invalid")
                if al >= fr.precision:
                    raise ValueError(
                        "JPEG lossless point transform >= precision"
                    )
                if stores is None:
                    stores = [
                        np.zeros((fr.height, fr.width), dtype=np.int32)
                        for _ in fr.comps
                    ]
                    geom = {"hmax": 1, "vmax": 1, "pt": al}
                saw_scan = True
                pos = _decode_lossless_scan(
                    content, fr, stores, spec, ss, al, pos + 2 + seg_len
                )
                continue
            if not fr.progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("JPEG baseline scan with progressive params")
            if stores is None:
                hmax = max(c[1] for c in fr.comps)
                vmax = max(c[2] for c in fr.comps)
                geom = {
                    "hmax": hmax,
                    "vmax": vmax,
                    "mcux": -(-fr.width // (8 * hmax)),
                    "mcuy": -(-fr.height // (8 * vmax)),
                    "cdims": [],
                }
                stores = []
                for _, h, v, tq in fr.comps:
                    if tq not in fr.qtables:
                        raise ValueError(f"JPEG quant table {tq} not defined")
                    stores.append(
                        np.zeros(
                            (geom["mcuy"] * v, geom["mcux"] * h, 64),
                            dtype=np.int32,
                        )
                    )
                    geom["cdims"].append((
                        -(-(fr.height * v) // (8 * geom["vmax"])),
                        -(-(fr.width * h) // (8 * geom["hmax"])),
                    ))
            saw_scan = True
            pos = _decode_scan(
                content, fr, stores, spec, ss, se, ah, al,
                pos + 2 + seg_len, geom,
            )
            continue
        pos += 2 + seg_len
    if not saw_scan or stores is None:
        raise ValueError(
            "JPEG has no SOS scan" if fr.comps
            else "JPEG has no SOF frame header"
        )
    if fr.lossless:  # samples are final — shift the point transform back
        shift = geom.get("pt", 0)
        maxv = (1 << fr.precision) - 1
        dt = np.uint8 if fr.precision <= 8 else np.uint16
        return fr, [
            np.clip(store << shift, 0, maxv).astype(dt) for store in stores
        ]
    # dequant + de-zigzag + batched IDCT per component
    level = 1 << (fr.precision - 1)
    planes = []
    for (_, h, v, tq), store in zip(fr.comps, stores):
        qt = fr.qtables[tq].astype(np.float32)
        by, bx, _ = store.shape
        flat = store.reshape(-1, 64).astype(np.float32) * qt[None, :]
        blocks = flat[:, _UNZIGZAG].reshape(-1, 8, 8)
        spatial = _C.T[None] @ blocks @ _C[None]  # batched IDCT
        spatial = np.clip(spatial + level, 0, (1 << fr.precision) - 1)
        plane = (
            spatial.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        cw = -(-fr.width * h // geom["hmax"])
        ch = -(-fr.height * v // geom["vmax"])
        planes.append(plane[:ch, :cw])
    return fr, planes


def _ycc_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255)


def decode_pixels(content: bytes) -> np.ndarray:
    """Decode to an (H, W, C) uint8 array — grayscale C=1 passthrough;
    3-component YCbCr converted to RGB (JFIF convention, or stored RGB
    when APP14 says transform=0); 4-component Adobe CMYK/YCCK
    converted to RGB. Chroma planes are upsampled by sample-factor
    replication.

    CMYK note: the only 4-component JPEGs in the wild are Adobe-style
    (print workflows / PDF DCTDecode), which store the ink values
    INVERTED (sample = 255 - ink). With that convention, stored
    channels are exactly the (R, G, B, 255-K) of the naive conversion
    R = (255-C)(255-K)/255, so the output below is
    stored_c * stored_k / 255 per channel — YCCK (transform=2) first
    undoes the YCbCr transform on the three chroma-subsampled
    channels."""
    fr, planes = decode_planes(content)
    hmax = max(c[1] for c in fr.comps)
    vmax = max(c[2] for c in fr.comps)
    up = []
    for (_, h, v, _tq), plane in zip(fr.comps, planes):
        if h != hmax or v != vmax:
            plane = plane.repeat(vmax // v, axis=0).repeat(hmax // h, axis=1)
        plane = plane[: fr.height, : fr.width].astype(np.float32)
        if fr.precision > 8:  # >8-bit lossless: take the high byte
            plane = np.floor(plane / (1 << (fr.precision - 8)))
        up.append(plane)
    if len(up) == 1:
        return up[0][..., None].round().astype(np.uint8)
    if len(up) == 3:
        # Adobe "no transform" — and lossless, which by convention
        # (DICOM et al.) stores component values untransformed.
        if fr.adobe_transform == 0 or (
            fr.lossless and fr.adobe_transform is None
        ):
            return np.stack(up, axis=-1).round().astype(np.uint8)
        return _ycc_to_rgb(*up).astype(np.uint8)
    if len(up) == 4:
        if fr.adobe_transform == 1:
            raise ValueError("JPEG APP14 YCbCr transform with 4 components")
        if fr.adobe_transform == 2:  # YCCK: undo YCbCr on inverted CMY
            smy = _ycc_to_rgb(up[0], up[1], up[2])
            s_c, s_m, s_y = smy[..., 0], smy[..., 1], smy[..., 2]
        else:  # transform 0 / absent: stored (inverted) CMYK directly
            s_c, s_m, s_y = up[0], up[1], up[2]
        s_k = up[3]
        rgb = np.stack([s_c, s_m, s_y], axis=-1) * (s_k[..., None] / 255.0)
        return np.clip(rgb.round(), 0, 255).astype(np.uint8)
    raise NotImplementedError(
        f"JPEG with {len(up)} components not supported"
    )


def decode_meta(content: bytes) -> dict:
    """Decode metadata the honest way: run the FULL scan decode (so
    'decoded' means decoded — corrupt entropy data quarantines), then
    report frame fields."""
    fr, _planes = decode_planes(content)
    return {
        "kind": "image",
        "format": "jpeg",
        "width": fr.width,
        "height": fr.height,
        "bits_per_pixel": fr.precision * len(fr.comps),
    }


# ---------------------------------------------------------------------------
# Encoder — deterministic fixture/synthesis path (tests, x5b synth).
# ---------------------------------------------------------------------------

# Fixed canonical Huffman spec shared by all encoded components: DC
# categories 0-11 at code length 4 (12 of 16 slots; incomplete codes
# are valid per T.81 §C.2), all 162 baseline AC symbols plus the 14
# progressive EOBn run symbols (r<<4, r=1..14) at length 8 (176 of
# 256 slots).
_ENC_DC_BITS = bytes([0, 0, 0, 12] + [0] * 12)
_ENC_DC_VALS = bytes(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
] + [r << 4 for r in range(1, 15)]
_ENC_AC_BITS = bytes([0] * 7 + [len(_AC_SYMS)] + [0] * 8)
_ENC_AC_VALS = bytes(_AC_SYMS)


def _enc_codes(bits: bytes, vals: bytes) -> dict[int, tuple[int, int]]:
    inv = {}
    for (length, code), sym in _build_huff(bits, vals).map.items():
        inv[sym] = (code, length)
    return inv


class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def align(self) -> None:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-fill pad


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _put_coeff(w: _BitWriter, codes: dict, sym_high: int, v: int) -> None:
    s = _category(v)
    code, length = codes[sym_high | s]
    w.put(code, length)
    if s:
        w.put(v if v >= 0 else v + (1 << s) - 1, s)


def _rgb_to_ycc(
    r: np.ndarray, g: np.ndarray, b: np.ndarray
) -> list[np.ndarray]:
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return [y, cb, cr]


def encode_baseline(
    img: np.ndarray,
    quant: int = 1,
    sampling: list[tuple[int, int]] | None = None,
    restart_interval: int = 0,
    adobe_transform: int | None = None,
) -> bytes:
    """Encode an (H, W) grayscale, (H, W, 3) RGB, or (H, W, 4) CMYK
    uint8 array as a sequential-baseline JFIF-style JPEG. `quant=1`
    keeps every DCT coefficient (near-lossless: only float rounding
    error), larger values quantize. `sampling` gives per-component
    (h, v) factors (default 1x1 everywhere; [(2, 2), (1, 1), (1, 1)]
    is 4:2:0). 4-channel input is EFFECTIVE ink values; they are
    stored Adobe-inverted (255 - ink) with an APP14 marker —
    `adobe_transform` 0 (the 4-channel default) stores inverted CMYK
    directly, 2 stores YCCK (YCbCr applied to the inverted CMY
    channels). For 3-channel input, `adobe_transform=0` stores RGB
    samples directly (Adobe no-transform convention) instead of the
    default YCbCr."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2 or img.shape[2] == 1
    cmyk = img.ndim == 3 and img.shape[2] == 4
    height, width = img.shape[:2]
    if not height or not width:
        raise ValueError("cannot encode empty image")
    app14 = b""
    if gray:
        planes = [img.reshape(height, width).astype(np.float32)]
        sampling = sampling or [(1, 1)]
    elif cmyk:
        if adobe_transform is None:
            adobe_transform = 0
        if adobe_transform not in (0, 2):
            raise ValueError("CMYK adobe_transform must be 0 or 2")
        inv = 255.0 - img.astype(np.float32)
        s_c, s_m, s_y, s_k = (inv[..., i] for i in range(4))
        if adobe_transform == 2:
            planes = _rgb_to_ycc(s_c, s_m, s_y) + [s_k]
        else:
            planes = [s_c, s_m, s_y, s_k]
        sampling = sampling or [(1, 1)] * 4
        app14 = (
            b"\xff\xee" + struct.pack(">H", 2 + 12)
            + b"Adobe" + struct.pack(">HHHB", 100, 0, 0, adobe_transform)
        )
    else:
        rgb = img.astype(np.float32)
        if adobe_transform == 0:  # Adobe no-transform: store RGB as-is
            planes = [rgb[..., 0], rgb[..., 1], rgb[..., 2]]
            app14 = (
                b"\xff\xee" + struct.pack(">H", 2 + 12)
                + b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 0)
            )
        elif adobe_transform in (None, 1):
            planes = _rgb_to_ycc(rgb[..., 0], rgb[..., 1], rgb[..., 2])
        else:
            raise ValueError("RGB adobe_transform must be 0 or 1")
        sampling = sampling or [(1, 1)] * 3
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    qtab = np.full(64, quant, dtype=np.float32)
    dc_codes = _enc_codes(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_codes = _enc_codes(_ENC_AC_BITS, _ENC_AC_VALS)

    # per-component quantized coefficient blocks in MCU layout
    comp_blocks = []
    for plane, (h, v) in zip(planes, sampling):
        if h != hmax or v != vmax:  # box-average downsample
            fy, fx = vmax // v, hmax // h
            ph = -(-plane.shape[0] // fy) * fy
            pw = -(-plane.shape[1] // fx) * fx
            pad = np.pad(plane, ((0, ph - plane.shape[0]),
                                 (0, pw - plane.shape[1])), mode="edge")
            plane = pad.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * v * 8, mcux * h * 8
        pad = np.pad(plane, ((0, th - plane.shape[0]),
                             (0, tw - plane.shape[1])), mode="edge")
        blocks = (
            pad.reshape(th // 8, 8, tw // 8, 8).transpose(0, 2, 1, 3)
        ) - (1 << 7)
        coeffs = _C[None, None] @ blocks @ _C.T[None, None]  # batched FDCT
        qcoef = np.round(coeffs / qtab.reshape(8, 8)).astype(np.int32)
        comp_blocks.append(qcoef)

    w = _BitWriter()
    preds = [0] * len(planes)
    n_rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            w.align()
            w.out += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
            preds = [0] * len(planes)
        my, mx = divmod(m, mcux)
        for ci, (h, v) in enumerate(sampling):
            for by in range(v):
                for bx in range(h):
                    blk = comp_blocks[ci][my * v + by, mx * h + bx]
                    zz = blk.reshape(64)[list(ZIGZAG)]
                    diff = int(zz[0]) - preds[ci]
                    preds[ci] = int(zz[0])
                    _put_coeff(w, dc_codes, 0, diff)
                    nz = np.nonzero(zz[1:])[0]
                    k = 1
                    for idx in nz:
                        pos = int(idx) + 1
                        run = pos - k
                        while run > 15:
                            code, length = ac_codes[0xF0]
                            w.put(code, length)
                            run -= 16
                        _put_coeff(w, ac_codes, run << 4, int(zz[pos]))
                        k = pos + 1
                    if k < 64:
                        code, length = ac_codes[0x00]
                        w.put(code, length)
    w.align()
    scan = bytes(w.out)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    ncomp = len(planes)
    dqt = seg(0xDB, b"\x00" + bytes(int(quant) & 0xFF for _ in range(64)))
    sof_body = struct.pack(">BHHB", 8, height, width, ncomp) + b"".join(
        struct.pack(">BBB", i + 1, (h << 4) | v, 0)
        for i, (h, v) in enumerate(sampling)
    )
    dht = seg(0xC4, b"\x00" + _ENC_DC_BITS + _ENC_DC_VALS) + seg(
        0xC4, b"\x10" + _ENC_AC_BITS + _ENC_AC_VALS
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval \
        else b""
    sos_body = bytes([ncomp]) + b"".join(
        bytes([i + 1, 0x00]) for i in range(ncomp)
    ) + b"\x00\x3f\x00"
    return (
        b"\xff\xd8" + app14 + dqt + seg(0xC0, sof_body) + dht + dri
        + seg(0xDA, sos_body) + scan + b"\xff\xd9"
    )


# Lossless (SOF3) Huffman spec: SSSS categories 0-16, all 17 symbols
# at code length 5 (17 of 32 slots; incomplete codes valid per §C.2).
_LL_DC_BITS = bytes([0, 0, 0, 0, 17] + [0] * 11)
_LL_DC_VALS = bytes(range(17))


def encode_lossless(
    img: np.ndarray,
    predictor: int = 4,
    point_transform: int = 0,
    restart_interval: int = 0,
    precision: int | None = None,
) -> bytes:
    """Encode an (H, W[, C]) uint8/uint16 array as a lossless (SOF3)
    JPEG — T.81 Annex H predictive coding, bit-exact round-trip with
    the SOF3 decode path (modulo the `point_transform` right-shift).
    All components use 1x1 sampling in one interleaved scan.
    `precision` defaults to 8 for uint8 input and 16 for uint16."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[..., None]
    height, width, ncomp = img.shape
    if not height or not width:
        raise ValueError("cannot encode empty image")
    if precision is None:
        precision = 8 if img.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError(f"lossless precision {precision} out of range")
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor {predictor} out of range")
    if point_transform >= precision:
        raise ValueError("point transform must be < precision")
    if int(img.max()) >= (1 << precision):
        raise ValueError("sample exceeds declared precision")
    planes = [
        (img[..., c].astype(np.int64) >> point_transform)
        for c in range(ncomp)
    ]
    codes = _enc_codes(_LL_DC_BITS, _LL_DC_VALS)
    default = 1 << (precision - point_transform - 1)
    w = _BitWriter()
    fresh = [True] * ncomp
    n_rst = 0
    for m in range(height * width):
        if restart_interval and m and m % restart_interval == 0:
            w.align()
            w.out += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
            fresh = [True] * ncomp
        y, x = divmod(m, width)
        for c, plane in enumerate(planes):
            if fresh[c]:
                px = default
                fresh[c] = False
            elif y == 0:
                px = int(plane[0, x - 1])
            elif x == 0:
                px = int(plane[y - 1, 0])
            else:
                ra = int(plane[y, x - 1])
                rb = int(plane[y - 1, x])
                rc = int(plane[y - 1, x - 1])
                px = (
                    ra if predictor == 1 else
                    rb if predictor == 2 else
                    rc if predictor == 3 else
                    ra + rb - rc if predictor == 4 else
                    ra + ((rb - rc) >> 1) if predictor == 5 else
                    rb + ((ra - rc) >> 1) if predictor == 6 else
                    (ra + rb) >> 1
                )
            diff = (int(plane[y, x]) - px) & 0xFFFF
            if diff == 32768:  # SSSS 16: no extend bits
                code, length = codes[16]
                w.put(code, length)
            else:
                signed = diff - 65536 if diff > 32768 else diff
                cat = _category(signed)
                code, length = codes[cat]
                w.put(code, length)
                if cat:
                    w.put(
                        signed if signed >= 0 else signed + (1 << cat) - 1,
                        cat,
                    )
    w.align()
    scan = bytes(w.out)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    sof_body = struct.pack(">BHHB", precision, height, width, ncomp) + b"".join(
        struct.pack(">BBB", c + 1, 0x11, 0) for c in range(ncomp)
    )
    dht = seg(0xC4, b"\x00" + _LL_DC_BITS + _LL_DC_VALS)
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval \
        else b""
    sos_body = bytes([ncomp]) + b"".join(
        bytes([c + 1, 0x00]) for c in range(ncomp)
    ) + bytes([predictor, 0, point_transform])
    return (
        b"\xff\xd8" + seg(0xC3, sof_body) + dht + dri
        + seg(0xDA, sos_body) + scan + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# Progressive encoder — fixture path for the progressive decoder
# (spectral selection + successive approximation + EOB runs).
# ---------------------------------------------------------------------------

def _toward_zero(v: int, shift: int) -> int:
    """T.81 G.1.2.2: progressive AC point transform divides by 2^Al
    rounding TOWARD ZERO (unlike the DC arithmetic shift)."""
    return -((-v) >> shift) if v < 0 else v >> shift


def _quantized_blocks(
    img: np.ndarray, quant: int, sampling: list[tuple[int, int]] | None
):
    """Shared encoder front half: color convert, subsample, pad,
    batched FDCT, quantize. Returns (height, width, sampling,
    mcux, mcuy, comp_blocks[(by,bx,8,8) int32])."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2 or img.shape[2] == 1
    height, width = img.shape[:2]
    if not height or not width:
        raise ValueError("cannot encode empty image")
    if gray:
        planes = [img.reshape(height, width).astype(np.float32)]
        sampling = sampling or [(1, 1)]
    else:
        rgb = img.astype(np.float32)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        sampling = sampling or [(1, 1)] * 3
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    qtab = np.full(64, quant, dtype=np.float32)
    comp_blocks = []
    for plane, (h, v) in zip(planes, sampling):
        if h != hmax or v != vmax:
            fy, fx = vmax // v, hmax // h
            ph = -(-plane.shape[0] // fy) * fy
            pw = -(-plane.shape[1] // fx) * fx
            pad = np.pad(plane, ((0, ph - plane.shape[0]),
                                 (0, pw - plane.shape[1])), mode="edge")
            plane = pad.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * v * 8, mcux * h * 8
        pad = np.pad(plane, ((0, th - plane.shape[0]),
                             (0, tw - plane.shape[1])), mode="edge")
        blocks = (
            pad.reshape(th // 8, 8, tw // 8, 8).transpose(0, 2, 1, 3)
        ) - (1 << 7)
        coeffs = _C[None, None] @ blocks @ _C.T[None, None]
        comp_blocks.append(
            np.round(coeffs / qtab.reshape(8, 8)).astype(np.int32)
        )
    return height, width, sampling, mcux, mcuy, comp_blocks


def _zz_of(blk: np.ndarray) -> np.ndarray:
    return blk.reshape(64)[list(ZIGZAG)]


def _enc_dc_scan(
    w: _BitWriter, dc_codes: dict, comp_blocks, sampling, mcux, mcuy, al: int
) -> None:
    """Interleaved progressive DC scan: diff-coded DC >> al."""
    preds = [0] * len(sampling)
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, (h, v) in enumerate(sampling):
            for by in range(v):
                for bx in range(h):
                    dc = int(comp_blocks[ci][my * v + by, mx * h + bx][0, 0])
                    t = dc >> al  # arithmetic shift per G.1.2.1
                    _put_coeff(w, dc_codes, 0, t - preds[ci])
                    preds[ci] = t
    w.align()


def _enc_dc_refine(
    w: _BitWriter, comp_blocks, sampling, mcux, mcuy, al: int
) -> None:
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, (h, v) in enumerate(sampling):
            for by in range(v):
                for bx in range(h):
                    dc = int(comp_blocks[ci][my * v + by, mx * h + bx][0, 0])
                    w.put((dc >> al) & 1, 1)
    w.align()


def _comp_band_blocks(comp_blocks, ci, cby, cbx):
    for by in range(cby):
        for bx in range(cbx):
            yield _zz_of(comp_blocks[ci][by, bx])


def _enc_ac_first(
    w: _BitWriter, ac_codes: dict, blocks, ss: int, se: int, al: int
) -> None:
    """Non-interleaved progressive AC initial scan with EOB runs."""
    eobrun = 0

    def flush() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            w.put(code, ln)
            w.put(eobrun - (1 << r), r)
            eobrun = 0

    for zz in blocks:
        band = [_toward_zero(int(zz[k]), al) for k in range(ss, se + 1)]
        nz = [i for i, v in enumerate(band) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        for i in range(nz[-1] + 1):
            v = band[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                w.put(code, ln)
                run -= 16
            _put_coeff(w, ac_codes, run << 4, v)
            run = 0
        if nz[-1] < se - ss:
            eobrun = 1
    flush()
    w.align()


def _enc_ac_refine(
    w: _BitWriter, ac_codes: dict, blocks, ss: int, se: int, al: int
) -> None:
    """Non-interleaved progressive AC refinement scan: newly-nonzero
    coefficients (|v| >> al == 1) as run-coded ±1, correction bits for
    older coefficients appended after the symbol that passes them
    (T.81 G.1.2.3), EOB-run correction bits buffered until flush."""
    eobrun = 0
    bebuf: list[int] = []

    def flush() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            w.put(code, ln)
            w.put(eobrun - (1 << r), r)
            eobrun = 0
        for b in bebuf:
            w.put(b, 1)
        bebuf.clear()

    for zz in blocks:
        band = [int(zz[k]) for k in range(ss, se + 1)]
        scaled = [_toward_zero(v, al) for v in band]
        new = [i for i, v in enumerate(scaled) if abs(v) == 1]
        if not new:
            eobrun += 1
            bebuf.extend(
                (abs(v) >> al) & 1 for v in band if abs(_toward_zero(v, al)) >= 2
            )
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        pend: list[int] = []
        for i in range(new[-1] + 1):
            a = abs(scaled[i])
            if a >= 2:
                pend.append((abs(band[i]) >> al) & 1)
            elif a == 0:
                run += 1
                if run == 16:
                    code, ln = ac_codes[0xF0]
                    w.put(code, ln)
                    for b in pend:
                        w.put(b, 1)
                    pend.clear()
                    run = 0
            else:  # newly nonzero: run-coded ±1
                code, ln = ac_codes[(run << 4) | 1]
                w.put(code, ln)
                w.put(1 if band[i] > 0 else 0, 1)
                for b in pend:
                    w.put(b, 1)
                pend.clear()
                run = 0
        if new[-1] < len(band) - 1:
            # band remainder joins the EOB run (a new coefficient at
            # the band end needs no EOB: the decoder exits at k > Se)
            eobrun = 1
            bebuf.extend(
                (abs(band[i]) >> al) & 1
                for i in range(new[-1] + 1, len(band))
                if abs(scaled[i]) >= 2
            )
    flush()
    w.align()


def encode_progressive(
    img: np.ndarray,
    quant: int = 1,
    sampling: list[tuple[int, int]] | None = None,
    bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    successive: bool = True,
) -> bytes:
    """Encode as a progressive (SOF2) JPEG with the standard scan
    shape: interleaved DC first, per-component AC spectral bands, and
    (with ``successive``) a successive-approximation split — initial
    scans at Al=1 followed by refinement scans at Al=0, exercising
    every progressive decode path (EOB runs, ZRL-in-refinement,
    correction bits)."""
    height, width, sampling, mcux, mcuy, comp_blocks = _quantized_blocks(
        img, quant, sampling
    )
    ncomp = len(sampling)
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    cdims = [
        (-(-(height * v) // (8 * vmax)), -(-(width * h) // (8 * hmax)))
        for h, v in sampling
    ]
    dc_codes = _enc_codes(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_codes = _enc_codes(_ENC_AC_BITS, _ENC_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    def sos(spec: list[int], ss: int, se: int, ah: int, al: int,
            scan: bytes) -> bytes:
        body = bytes([len(spec)]) + b"".join(
            bytes([ci + 1, 0x00]) for ci in spec
        ) + bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body) + scan

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes(int(quant) & 0xFF for _ in range(64)))
    sof_body = struct.pack(">BHHB", 8, height, width, ncomp) + b"".join(
        struct.pack(">BBB", i + 1, (h << 4) | v, 0)
        for i, (h, v) in enumerate(sampling)
    )
    out += seg(0xC2, sof_body)
    out += seg(0xC4, b"\x00" + _ENC_DC_BITS + _ENC_DC_VALS)
    out += seg(0xC4, b"\x10" + _ENC_AC_BITS + _ENC_AC_VALS)

    al0 = 1 if successive else 0
    w = _BitWriter()
    _enc_dc_scan(w, dc_codes, comp_blocks, sampling, mcux, mcuy, al0)
    out += sos(list(range(ncomp)), 0, 0, 0, al0, bytes(w.out))
    for ci in range(ncomp):
        cby, cbx = cdims[ci]
        for lo, hi in bands:
            w = _BitWriter()
            _enc_ac_first(
                w, ac_codes, _comp_band_blocks(comp_blocks, ci, cby, cbx),
                lo, hi, al0,
            )
            out += sos([ci], lo, hi, 0, al0, bytes(w.out))
    if successive:
        w = _BitWriter()
        _enc_dc_refine(w, comp_blocks, sampling, mcux, mcuy, 0)
        out += sos(list(range(ncomp)), 0, 0, 1, 0, bytes(w.out))
        for ci in range(ncomp):
            cby, cbx = cdims[ci]
            for lo, hi in bands:
                w = _BitWriter()
                _enc_ac_refine(
                    w, ac_codes, _comp_band_blocks(comp_blocks, ci, cby, cbx),
                    lo, hi, 0,
                )
                out += sos([ci], lo, hi, 1, 0, bytes(w.out))
    out += b"\xff\xd9"
    return bytes(out)
