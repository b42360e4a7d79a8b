"""JPEG decoder (baseline + progressive) — pure python/numpy, no external libs.

Supports the common web-JPEG shapes: baseline DCT (SOF0/SOF1) AND
progressive (SOF2, spectral selection + successive approximation, T.81
annex G), Huffman coding, 8-bit samples, grayscale or YCbCr with 4:4:4 /
4:2:2 / 4:2:0 chroma subsampling, restart markers, and Adobe APP14
transform=0 stored-RGB. Arithmetic coding, 12-bit precision and
4-component CMYK/YCCK raise NotImplementedError.

Decode pipeline (ITU-T T.81): every scan entropy-decodes into per-component
zigzag COEFFICIENT STORES (baseline is the one-scan special case) ->
dezigzag + dequantize + one vectorized separable IDCT over all blocks
(einsum) -> libjpeg-style triangular chroma upsample -> YCbCr->RGB (JFIF
full-range matrix).

Exactness: the spec allows IDCT implementations to differ by small integer
amounts; parity with libjpeg-backed decoders (javax.imageio differential
test in tests/test_ops.py) is asserted within a +/-2 per-sample tolerance,
the conventional conformance bound.
"""

from __future__ import annotations

import struct

import numpy as np

ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# separable IDCT basis: B[u, x] = C(u)/2 * cos((2x+1) u pi / 16)
_IDCT_B = np.array([
    [(np.sqrt(0.5) if u == 0 else 1.0) / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16)
     for x in range(8)]
    for u in range(8)
])


class _HuffTable:
    """Canonical JPEG Huffman table with a flat (code-length, code) lookup."""

    def __init__(self, counts: list[int], symbols: bytes) -> None:
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing
    and restart-marker awareness."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # RSTn handled by caller via sync()
                    break
                else:  # EOI or other marker: pad with zero bits (spec behavior)
                    b = 0
                    self.pos = len(self.data)
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
            if self.nbits == 0:
                return 0
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: _HuffTable) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad Huffman code")

    def sync_restart(self) -> None:
        """Skip to just past the next RSTn marker, reset bit state."""
        self.bitbuf = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


def _upsample2(p: np.ndarray, axis: int) -> np.ndarray:
    """2x triangular upsample along one axis (libjpeg "fancy" filter):
    out[2i] = (3*p[i] + p[i-1]) / 4, out[2i+1] = (3*p[i] + p[i+1]) / 4,
    edges clamped. Operates on float planes; rounding happens once at the
    final RGB conversion."""
    if axis == 1:
        return _upsample2(p.T, axis=0).T
    prev = np.vstack([p[:1], p[:-1]])
    nxt = np.vstack([p[1:], p[-1:]])
    out = np.empty((p.shape[0] * 2, p.shape[1]), dtype=p.dtype)
    out[0::2] = (3.0 * p + prev) / 4.0
    out[1::2] = (3.0 * p + nxt) / 4.0
    return out


def _extend(v: int, n: int) -> int:
    """T.81 F.2.2.1 sign extension of an n-bit magnitude."""
    return v - (1 << n) + 1 if n and v < (1 << (n - 1)) else v


def _scan_end(blob: bytes, pos: int) -> int:
    """Index just past the entropy-coded data starting at pos (the next
    marker that is neither stuffing 0xFF00 nor a restart)."""
    i = pos
    n = len(blob)
    while i + 1 < n:
        if blob[i] == 0xFF and blob[i + 1] != 0x00 and not (0xD0 <= blob[i + 1] <= 0xD7):
            return i
        i += 1
    return n


class _ScanDecoder:
    """Decode one scan (baseline full-band or any progressive scan) into the
    per-component zigzag coefficient stores. Implements all four
    progressive regimes of T.81 annex G (DC/AC x first/refinement) plus the
    baseline sequential case as the Ss=0..Se=63, Ah=Al=0 special case."""

    def __init__(self, scan: dict, frame: dict, coefs: dict) -> None:
        self.scan = scan
        self.frame = frame
        self.coefs = coefs
        self.reader = _BitReader(scan["data"])
        self.eobrun = 0
        self.pred = {c["id"]: 0 for c in frame["comps"]}

    def run(self) -> None:
        scan, frame = self.scan, self.frame
        by_id = {c["id"]: c for c in frame["comps"]}
        ri = scan["restart_interval"]
        if len(scan["comps"]) > 1:  # interleaved: MCU order over all comps
            mcux, mcuy = frame["mcux"], frame["mcuy"]
            units = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if ri and units and units % ri == 0:
                        self._restart()
                    for sc in scan["comps"]:
                        c = by_id[sc["id"]]
                        for by in range(c["vs"]):
                            for bx in range(c["hs"]):
                                self._block(
                                    sc, c,
                                    my * c["vs"] + by, mx * c["hs"] + bx,
                                )
                    units += 1
        else:  # non-interleaved: block-raster over the component's own grid
            sc = scan["comps"][0]
            c = by_id[sc["id"]]
            bw = (frame["w"] * c["hs"] + 8 * frame["hmax"] - 1) // (8 * frame["hmax"])
            bh = (frame["h"] * c["vs"] + 8 * frame["vmax"] - 1) // (8 * frame["vmax"])
            units = 0
            for by in range(bh):
                for bx in range(bw):
                    if ri and units and units % ri == 0:
                        self._restart()
                    self._block(sc, c, by, bx)
                    units += 1

    def _restart(self) -> None:
        self.reader.sync_restart()
        self.pred = {k: 0 for k in self.pred}
        self.eobrun = 0

    def _block(self, sc: dict, c: dict, by: int, bx: int) -> None:
        coef = self.coefs[c["id"]][by, bx]
        scan, rd = self.scan, self.reader
        ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
        if ss == 0:  # DC (and, for baseline, the full band follows)
            if ah == 0:  # first pass
                t = rd.decode_huff(scan["dc_tables"][sc["dc"]])
                diff = _extend(rd.receive(t), t)
                self.pred[c["id"]] += diff
                coef[0] = self.pred[c["id"]] << al
            else:  # DC refinement: one bit
                if rd.read_bit():
                    coef[0] |= 1 << al
            if se == 0:
                return
            self._ac_first(scan["ac_tables"][sc["ac"]], coef, 1, se, al)
        elif ah == 0:
            self._ac_first(scan["ac_tables"][sc["ac"]], coef, ss, se, al)
        else:
            self._ac_refine(scan["ac_tables"][sc["ac"]], coef, ss, se, al)

    def _ac_first(self, table: _HuffTable, coef, ss: int, se: int, al: int) -> None:
        rd = self.reader
        if self.eobrun > 0:
            self.eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = rd.decode_huff(table)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                self.eobrun = (1 << r) - 1
                if r:
                    self.eobrun += rd.receive(r)
                break  # EOBn
            k += r
            if k > se:
                break
            coef[k] = _extend(rd.receive(s), s) << al
            k += 1

    def _ac_refine(self, table: _HuffTable, coef, ss: int, se: int, al: int) -> None:
        """T.81 G.1.2.3 AC successive-approximation refinement (the
        correction-bit algorithm, as in libjpeg's decode_mcu_AC_refine)."""
        rd = self.reader
        p1, m1 = 1 << al, -1 << al
        k = ss
        if self.eobrun == 0:
            while k <= se:
                rs = rd.decode_huff(table)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r < 15:
                        # EOBRUN includes the CURRENT block: its remaining
                        # nonzero-history coefficients still carry correction
                        # bits (read in the EOB pass below, which then
                        # decrements) — (1<<r)-1 here desyncs the stream
                        self.eobrun = 1 << r
                        if r:
                            self.eobrun += rd.receive(r)
                        break
                    s = 0  # ZRL: run of 16 zero-history coefficients
                else:  # s is always 1 in refinement scans
                    s = p1 if rd.read_bit() else m1
                while k <= se:
                    if coef[k] != 0:
                        if rd.read_bit() and (coef[k] & p1) == 0:
                            coef[k] += p1 if coef[k] >= 0 else m1
                    else:
                        if r == 0:
                            if s:
                                coef[k] = s
                            k += 1
                            break
                        r -= 1
                    k += 1
        if self.eobrun > 0:  # EOB run: correction bits only
            while k <= se:
                if coef[k] != 0:
                    if rd.read_bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                k += 1
            self.eobrun -= 1


def decode_jpeg(blob: bytes) -> np.ndarray:
    """JPEG bytes -> (h, w, 3) RGB or (h, w, 1) grayscale uint8.

    Baseline sequential (SOF0/SOF1-huffman) AND progressive (SOF2) via a
    unified coefficient-store pipeline: every scan decodes into per-
    component zigzag coefficient arrays; dequantize + IDCT happen once at
    the end. Arithmetic coding and 12-bit precision raise
    NotImplementedError."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG blob")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    restart_interval = 0
    adobe_transform = None  # APP14: None = no marker (3-comp defaults YCbCr)
    scans: list[dict] = []
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            pos += 1
            continue
        marker = blob[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack_from(">H", blob, pos)[0]
        seg = blob[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 0xF
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8)
                qt[tid] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT (may be redefined between scans)
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0xF
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                syms = seg[p + 17 : p + 17 + n]
                (huff_dc if cls == 0 else huff_ac)[tid] = _HuffTable(counts, syms)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext sequential / progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError("12-bit JPEG")
            if nc not in (1, 3):
                # 4-component Adobe CMYK/YCCK (and any other exotic count)
                raise NotImplementedError(f"{nc}-component JPEG (CMYK/YCCK)")
            comps = []
            for i in range(nc):
                cid, samp, qtid = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                comps.append({"id": cid, "hs": samp >> 4, "vs": samp & 0xF, "qt": qtid})
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"unsupported JPEG coding (SOF{marker - 0xC0})")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            adobe_transform = seg[11]  # 0=RGB/CMYK, 1=YCbCr, 2=YCCK
        elif marker == 0xDA:  # SOS — capture the scan + its entropy span
            ns = seg[0]
            scomps = []
            for i in range(ns):
                cid, tids = struct.unpack_from(">BB", seg, 1 + 2 * i)
                scomps.append({"id": cid, "dc": tids >> 4, "ac": tids & 0xF})
            ss_, se_, a = struct.unpack_from(">BBB", seg, 1 + 2 * ns)
            data_start = pos + seg_len
            data_end = _scan_end(blob, data_start)
            scans.append(
                {
                    "comps": scomps, "ss": ss_, "se": se_, "ah": a >> 4, "al": a & 0xF,
                    "data": blob[data_start:data_end],
                    "dc_tables": dict(huff_dc), "ac_tables": dict(huff_ac),
                    "restart_interval": restart_interval,
                }
            )
            pos = data_end
            continue
        pos += seg_len
    if frame is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")

    comps = frame["comps"]
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    frame["hmax"], frame["vmax"] = hmax, vmax
    frame["mcux"] = mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    frame["mcuy"] = mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    # zigzag-order coefficient store per component, padded to the MCU grid
    coefs = {
        c["id"]: np.zeros((mcuy * c["vs"], mcux * c["hs"], 64), dtype=np.int32)
        for c in comps
    }
    for scan in scans:
        _ScanDecoder(scan, frame, coefs).run()

    # reconstruct: dezigzag + dequantize + IDCT, vectorized over all blocks
    planes = {}
    for c in comps:
        grid = coefs[c["id"]]
        bh, bw = grid.shape[:2]
        blocks = np.zeros((bh, bw, 64), dtype=np.float64)
        blocks[:, :, ZIGZAG] = grid  # dezigzag
        blocks = blocks.reshape(bh, bw, 8, 8) * qt[c["qt"]][None, None]
        # separable IDCT over every block at once: einsum on the two 8-dims
        spatial = np.einsum("ur,yxuv,vc->yxrc", _IDCT_B, blocks, _IDCT_B) + 128.0
        planes[c["id"]] = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)

    h, w = frame["h"], frame["w"]
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["vs"], hmax // c["hs"]
        # triangular ("fancy") upsampling, matching libjpeg's default filter
        # for the standard 2:1 ratios; other ratios fall back to replication
        while ry > 1 or rx > 1:
            if ry % 2 == 0:
                p = _upsample2(p, axis=0)
                ry //= 2
            elif ry > 1:
                p = np.repeat(p, ry, axis=0)
                ry = 1
            if rx % 2 == 0:
                p = _upsample2(p, axis=1)
                rx //= 2
            elif rx > 1:
                p = np.repeat(p, rx, axis=1)
                rx = 1
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        y = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    if adobe_transform == 0:
        # Adobe APP14 transform=0: components are stored RGB, no color xform
        rgb = np.stack(out_planes, axis=2)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
