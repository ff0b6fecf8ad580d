"""Pure numpy/stdlib JPEG codec (ITU-T T.81): sequential AND progressive.

The reference treats media decode as a library call
(/root/reference/src/delm — media handling is delegated to external
loaders); this environment has no Pillow/libjpeg, but Huffman-coded JPEG
is a fully public algorithm: canonical Huffman entropy coding + 8x8 DCT +
quantization, all expressible in numpy. So JPEG pixels are REAL here,
closing the former "JPEG needs a library" gate the same way
image_codec.py closed PNG/GIF/BMP.

Scope (documented like image_codec.py's):
  * decode: baseline + extended-sequential (SOF0/SOF1) AND progressive
    (SOF2: spectral selection + successive approximation, EOB runs,
    Annex G) Huffman JPEGs, 8-bit, grayscale or 3-component YCbCr, any
    sampling factors (chroma planes are upsampled by sample replication),
    restart intervals, multiple DQT/DHT segments. Arithmetic coding,
    12-bit, lossless, and hierarchical modes raise ValueError.
  * encode: 8-bit grayscale or RGB as 4:4:4 YCbCr, sequential
    (encode_jpeg) or progressive with an arbitrary scan script
    (encode_jpeg_progressive), caller-suppliable quantization table.
    Huffman tables are built from the symbol histogram of the image
    itself (canonical, 16-bit depth cap) and written into DHT segments —
    the spec requires decoders to read tables from the file, so interop
    does not depend on the Annex-K example tables.
  * The progressive invariant the tests pin: entropy coding is lossless,
    so decoding a progressive stream of ANY legal scan script is
    bit-identical to decoding the sequential stream of the same image +
    qtable.
  * Exactness contract used by the oracle lane: an image whose 8x8 tiles
    are each constant has all AC coefficients exactly 0 and an integer
    DC of 8*(v-128); with a quantization table whose DC entry divides 8,
    quantize->dequantize->IDCT is bit-exact, so encode->decode round-trips
    losslessly. (Arbitrary images round-trip within quantization error,
    asserted as PSNR in tests.)

Performance note: entropy coding is bit-serial Python by definition — this
codec is the correctness path for the multimodal operators' pluggable
`decoder` seam, not a bulk-throughput path; a production corpus would plug
libjpeg through the same seam.
"""

from __future__ import annotations

import struct

import numpy as np

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    np.int64,
)

#: orthonormal 8-point DCT-II basis; fwd: A @ f @ A.T, inv: A.T @ S @ A
_A = np.array(
    [
        [
            0.5 * (np.sqrt(0.5) if k == 0 else 1.0) * np.cos((2 * n + 1) * k * np.pi / 16.0)
            for n in range(8)
        ]
        for k in range(8)
    ],
    np.float64,
)

#: quantization table that makes tile-constant images round-trip exactly
#: (DC entry divides 8; see module docstring)
EXACT_QTABLE = np.full(64, 8, np.int64)


def _extend(bits: int, s: int) -> int:
    """T.81 F.12 EXTEND: map an s-bit magnitude code to its signed value."""
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 stuffing;
    stops at any real marker (restart handling is the caller's job)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                # marker: spec says pad with 1-bits until the decoder
                # consumes the segment; restart markers are eaten by the
                # MCU loop before reading resumes
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        out = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return out

    def align_and_expect_rst(self, n: int) -> None:
        """Byte-align and consume the RSTn marker at a restart boundary."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while d[self.pos] != 0xFF or d[self.pos + 1] == 0x00:
            self.pos += 1  # tolerate padding bytes before the marker
        marker = d[self.pos + 1]
        if marker != 0xD0 + (n % 8):
            raise ValueError(f"expected RST{n % 8}, got 0x{marker:02x}")
        self.pos += 2


class _HuffTable:
    """Canonical Huffman table from DHT (counts, symbols) — decoded via
    the T.81 F.16 sequential-compare method (MINCODE/MAXCODE arrays)."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.symbols = symbols
        code = 0
        k = 0
        for length in range(1, 17):
            n = counts[length - 1]
            self.valptr[length] = k
            self.mincode[length] = code
            self.maxcode[length] = code + n - 1 if n else -1
            code = (code + n) << 1
            k += n

    def decode(self, br: _BitReader) -> int:
        code = br.read(1)
        for length in range(1, 17):
            if self.maxcode[length] >= code:
                return self.symbols[self.valptr[length] + code - self.mincode[length]]
            code = (code << 1) | br.read(1)
        raise ValueError("invalid Huffman code in JPEG stream")


def _req_q(qtables, tq):
    """Quantization table by id, or ValueError — a scan referencing an
    undeclared DQT id is a malformed payload and must surface as the
    decoder's documented error type, not a raw KeyError."""
    if tq not in qtables:
        raise ValueError(f"JPEG references undeclared DQT id {tq}")
    return qtables[tq]


def _req_h(htables, tc, th):
    """Huffman table by (class, id), or ValueError — same contract as
    _req_q (the old htables.get(...) path deferred the failure to an
    AttributeError on None.decode mid-scan)."""
    if (tc, th) not in htables:
        kind = "DC" if tc == 0 else "AC"
        raise ValueError(f"JPEG references undeclared {kind} DHT id {th}")
    return htables[(tc, th)]


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline/extended-sequential JPEG bytes -> HxWx3 uint8 RGB (color)
    or HxWx1 uint8 (grayscale)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq:
                    tbl = np.frombuffer(seg, ">u2", 64, p).astype(np.int64)
                    p += 128
                else:
                    tbl = np.frombuffer(seg, np.uint8, 64, p).astype(np.int64)
                    p += 64
                qtables[tq] = tbl
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"{prec}-bit JPEG unsupported (8-bit only)")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker == 0xC2:  # SOF2 progressive
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"{prec}-bit JPEG unsupported (8-bit only)")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": True}
            prog_coefs = _alloc_coefs(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG SOF 0x{marker:02x} unsupported (sequential/progressive "
                "Huffman only)"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                syms = seg[p + 17 : p + 17 + n]
                htables[(tc, th)] = _HuffTable(counts, syms)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i : 3 + 2 * i]
                comp = next(
                    (c for c in frame["comps"] if c["id"] == cid), None
                )
                if comp is None:
                    raise ValueError(
                        f"JPEG scan references unknown component {cid}"
                    )
                scan.append((comp, tabs >> 4, tabs & 0x0F))
            if not frame.get("progressive"):
                return _decode_scan(
                    data, pos + seglen, frame, scan, qtables, htables, restart
                )
            ss, se, aa = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            pos = _decode_progressive_scan(
                data, pos + seglen, frame, scan, htables, restart,
                prog_coefs, ss, se, aa >> 4, aa & 0x0F,
            )
            continue
        pos += seglen
    if frame is not None and frame.get("progressive"):
        return _reconstruct_progressive(frame, prog_coefs, qtables)
    raise ValueError("JPEG contains no scan")


def _decode_scan(data, pos, frame, scan, qtables, htables, restart):
    h, w = frame["h"], frame["w"]
    if len(scan) != len(frame["comps"]):
        raise ValueError("multi-scan sequential JPEG unsupported (one scan)")
    if len(scan) == 1:
        # non-interleaved scan: MCU = one data unit, sampling ignored
        # (T.81 A.2.2) — common for grayscale files declaring 2x2
        scan[0][0]["h"] = scan[0][0]["v"] = 1
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {}
    for c, _, _ in scan:
        planes[c["id"]] = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64)

    br = _BitReader(data, pos)
    dc_pred = {c["id"]: 0 for c, _, _ in scan}
    n_rst = 0
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            br.align_and_expect_rst(n_rst)
            n_rst += 1
            dc_pred = {k: 0 for k in dc_pred}
        my, mx = divmod(m, mcux)
        for comp, tdc, tac in scan:
            q = _req_q(qtables, comp["tq"])
            dct = _req_h(htables, 0, tdc)
            act = _req_h(htables, 1, tac)
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    coef = np.zeros(64, np.int64)
                    s = dct.decode(br)
                    diff = _extend(br.read(s), s) if s else 0
                    dc_pred[comp["id"]] += diff
                    coef[0] = dc_pred[comp["id"]]
                    k = 1
                    while k < 64:
                        rs = act.decode(br)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC index overflow")
                        coef[ZIGZAG[k]] = _extend(br.read(s), s)
                        k += 1
                    block = (coef * q[_DEZIG]).reshape(8, 8).astype(np.float64)
                    px = _A.T @ block @ _A + 128.0
                    y0 = (my * comp["v"] + by) * 8
                    x0 = (mx * comp["h"] + bx) * 8
                    planes[comp["id"]][y0 : y0 + 8, x0 : x0 + 8] = px

    comps = [comp for comp, _, _ in scan]
    return _to_pixels([planes[comp["id"]] for comp in comps], comps, hmax, vmax, h, w)


def _to_pixels(planes, comps, hmax: int, vmax: int, h: int, w: int) -> np.ndarray:
    """Sample planes (one per component, at the component's resolution)
    -> HxWx1 or HxWx3 uint8: replicate-upsample each to full MCU-aligned
    resolution, crop to h x w, then YCbCr -> RGB for three components."""
    out_planes = []
    for p, comp in zip(planes, comps):
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if vmax % comp["v"] or hmax % comp["h"]:
            raise ValueError("non-integer JPEG sampling ratios unsupported")
        p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        y = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    if len(out_planes) != 3:
        raise ValueError(f"{len(out_planes)}-component JPEG unsupported")
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


#: natural-order index of each zigzag position (q tables arrive zigzagged)
_DEZIG = np.argsort(ZIGZAG)


# ---------------------------------------------------------------------------
# Progressive mode (T.81 Annex G): coefficients accumulate across scans —
# spectral-selection bands plus successive-approximation bit planes — and
# the image is reconstructed once, after the last scan. The invariant the
# tests pin: ANY legal scan script reproduces exactly the quantized
# coefficients of the sequential encoding, so progressive decode output is
# bit-identical to baseline decode of the same image + qtable.
# ---------------------------------------------------------------------------


def _frame_geometry(frame):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _comp_blocks(frame, comp):
    """(cbh, cbw): the component's TRUE block grid (used by
    non-interleaved scans, which exclude MCU padding blocks)."""
    hmax, vmax, _, _ = _frame_geometry(frame)
    cw = -(-frame["w"] * comp["h"] // hmax)
    ch = -(-frame["h"] * comp["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _alloc_coefs(frame):
    _, _, mcux, mcuy = _frame_geometry(frame)
    return {
        c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int64)
        for c in frame["comps"]
    }


def _ac_first(br, blk, ac, ss, se, al, eobrun):
    """AC spectral-selection scan, first pass (Ah == 0) for one block;
    returns the remaining end-of-band run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read(r)
                return eobrun
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("progressive AC index overflow")
        blk[ZIGZAG[k]] = _extend(br.read(s), s) << al
        k += 1
    return 0


def _ac_refine(br, blk, ac, ss, se, al, eobrun):
    """AC successive-approximation refinement (Ah != 0) for one block:
    newly-significant coefficients arrive as ±2^Al; every nonzero-history
    coefficient passed over consumes one correction bit."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = ac.decode(br)
            r, s = rs >> 4, rs & 0x0F
            coefval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read(r)
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                coefval = p1 if br.read(1) else m1
            while k <= se:
                z = ZIGZAG[k]
                if blk[z] != 0:
                    if br.read(1) and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if coefval and k <= se:
                blk[ZIGZAG[k]] = coefval
            k += 1
    if eobrun > 0:
        while k <= se:
            z = ZIGZAG[k]
            if blk[z] != 0:
                if br.read(1) and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scan(
    data, pos, frame, scan, htables, restart, coefs, ss, se, ah, al
):
    """Decode one progressive scan into `coefs`; returns the stream
    position of the next marker."""
    br = _BitReader(data, pos)
    _, _, mcux, mcuy = _frame_geometry(frame)
    n_rst = 0
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se == 0")
        dc_pred = {c["id"]: 0 for c, _, _ in scan}
        if len(scan) > 1:  # interleaved DC scan over the MCU grid
            units = []
            for my in range(mcuy):
                for mx in range(mcux):
                    mcu = []
                    for comp, tdc, _ in scan:
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                mcu.append(
                                    (comp, tdc, my * comp["v"] + by, mx * comp["h"] + bx)
                                )
                    units.append(mcu)
        else:
            comp, tdc, _ = scan[0]
            cbh, cbw = _comp_blocks(frame, comp)
            units = [
                [(comp, tdc, i // cbw, i % cbw)] for i in range(cbh * cbw)
            ]
        for m, mcu in enumerate(units):
            if restart and m and m % restart == 0:
                br.align_and_expect_rst(n_rst)
                n_rst += 1
                dc_pred = {k: 0 for k in dc_pred}
            for comp, tdc, by, bx in mcu:
                blk = coefs[comp["id"]][by, bx]
                if ah == 0:
                    s = _req_h(htables, 0, tdc).decode(br)
                    diff = _extend(br.read(s), s) if s else 0
                    dc_pred[comp["id"]] += diff
                    blk[0] = dc_pred[comp["id"]] << al
                else:
                    if br.read(1):
                        blk[0] |= 1 << al
    else:
        if len(scan) != 1:
            raise ValueError("progressive AC scans are never interleaved")
        comp, _, tac = scan[0]
        ac = _req_h(htables, 1, tac)
        cbh, cbw = _comp_blocks(frame, comp)
        eobrun = 0
        for m in range(cbh * cbw):
            if restart and m and m % restart == 0:
                br.align_and_expect_rst(n_rst)
                n_rst += 1
                eobrun = 0
            blk = coefs[comp["id"]][m // cbw, m % cbw]
            if ah == 0:
                eobrun = _ac_first(br, blk, ac, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine(br, blk, ac, ss, se, al, eobrun)
    p = br.pos
    while p + 1 < len(data) and not (
        data[p] == 0xFF and data[p + 1] != 0 and not (0xD0 <= data[p + 1] <= 0xD7)
    ):
        p += 1
    return p


def _reconstruct_progressive(frame, coefs, qtables):
    """Dequantize + IDCT the accumulated coefficient planes and finish
    exactly like the sequential path (upsample, crop, color-convert)."""
    h, w = frame["h"], frame["w"]
    hmax, vmax, _, _ = _frame_geometry(frame)
    planes = []
    for comp in frame["comps"]:
        # qtables store zigzag order; natural position n needs q_zig[k]
        # where ZIGZAG[k] == n, i.e. q_zig[_DEZIG] (same as _decode_scan)
        q_nat = _req_q(qtables, comp["tq"])[_DEZIG]
        c = coefs[comp["id"]].astype(np.float64) * q_nat
        nby, nbx = c.shape[:2]
        s = c.reshape(nby, nbx, 8, 8)
        px = np.einsum("km,ijkl,ln->ijmn", _A, s, _A) + 128.0
        planes.append(px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8))
    return _to_pixels(planes, frame["comps"], hmax, vmax, h, w)

# _DEZIG maps natural index -> zigzag rank?  We need, for natural position
# ZIGZAG[k], the quant entry k.  coef is already stored in natural order via
# coef[ZIGZAG[k]]; the quant table in DQT is in zigzag order, so the natural-
# order table is q_nat[ZIGZAG[k]] = q_zig[k], i.e. q_nat = q_zig[_DEZIG_INV]
# with _DEZIG_INV[ZIGZAG[k]] = k — which is exactly np.argsort(ZIGZAG).


def _build_huffman(freq: np.ndarray) -> tuple[list[int], bytes]:
    """Canonical Huffman (counts-per-length 1..16, symbol list) for the
    observed symbol frequencies — the T.81 K.2 two-array construction
    with the 16-bit length cap adjustment."""
    freq = freq.astype(np.int64).copy()
    # reserve one phantom symbol (T.81 K.2) so no real code is all-1s
    freq = np.append(freq, 1)
    others = np.full(freq.size, -1, np.int64)
    codesize = np.zeros(freq.size, np.int64)
    while True:
        nz = np.nonzero(freq)[0]
        if nz.size < 2:
            break
        v1 = nz[np.argmin(freq[nz])]
        freq_v1 = freq[v1]
        freq[v1] = 0
        nz2 = np.nonzero(freq)[0]
        if nz2.size == 0:
            freq[v1] = freq_v1
            break
        v2 = nz2[np.argmin(freq[nz2])]
        freq[v1] = freq_v1
        # merge v2 into v1
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1
    bits = np.zeros(codesize.size + 1, np.int64)
    for c in codesize:
        if c:
            bits[c] += 1
    # cap lengths at 16 (K.2 adjust_bits)
    i = len(bits) - 1
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # remove the phantom symbol's code (the longest one)
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1
    # symbols sorted by (codesize, value); phantom (last index) excluded
    order = sorted(
        (int(cs), int(sym)) for sym, cs in enumerate(codesize[:-1]) if cs
    )
    symbols = bytes(sym for _, sym in order)
    return [int(b) for b in bits[1:17]], symbols


def _huff_codes(counts: list[int], symbols: bytes) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a canonical table."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, n: int) -> None:
        self.acc = (self.acc << n) | code
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _block_symbols(coef: np.ndarray, dc_pred: int) -> tuple[list, int]:
    """(symbol, extra-bits) stream for one quantized block (natural order
    in, zigzag out)."""
    zz = coef[ZIGZAG]
    syms = []
    diff = int(zz[0]) - dc_pred
    mag = abs(diff)
    s = mag.bit_length()
    syms.append(("dc", s, diff if diff >= 0 else diff + (1 << s) - 1))
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    end = last_nz[-1] + 2 if last_nz.size else 1
    for k in range(1, end):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            syms.append(("ac", 0xF0, 0, 0))
            run -= 16
        mag = abs(v)
        s = mag.bit_length()
        if s > 10:
            raise ValueError("AC coefficient magnitude exceeds baseline range")
        syms.append(("ac", (run << 4) | s, s, v if v >= 0 else v + (1 << s) - 1))
        run = 0
    if end < 64:
        syms.append(("ac", 0x00, 0, 0))  # EOB
    return syms, int(zz[0])


def encode_jpeg(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """HxWx1 (grayscale) or HxWx3 uint8 RGB -> baseline JFIF bytes.

    `qtable` is 64 zigzag-order integers (default EXACT_QTABLE, all 8s —
    chosen so tile-constant images round-trip exactly; see module
    docstring). Huffman tables are optimal for the image (K.2 algorithm)
    and embedded in the stream. `restart_interval` > 0 writes DRI and
    emits RSTn markers every that many MCUs (exercises the decoder's
    resync path)."""
    blocks_per_plane, h, w, nch, q = _quantized_planes(img, qtable)

    # ---- symbol pass (shared by histogram + emission); DC prediction
    # resets at every restart boundary (MCU == one block at 1x1 sampling)
    plane_syms = []
    for qc in blocks_per_plane:
        dc_pred = 0
        syms = []
        for b in range(qc.shape[0]):
            if restart_interval and b and b % restart_interval == 0:
                dc_pred = 0
            s, dc_pred = _block_symbols(qc[b], dc_pred)
            syms.append(s)
        plane_syms.append(syms)

    def table_for(kind: str, plane_idx: list[int]) -> tuple:
        freq = np.zeros(256, np.int64)
        for pi in plane_idx:
            for blk in plane_syms[pi]:
                for t in blk:
                    if kind == "dc" and t[0] == "dc":
                        freq[t[1]] += 1
                    elif kind == "ac" and t[0] == "ac":
                        freq[t[1]] += 1
        counts, symbols = _build_huffman(freq)
        return counts, symbols, _huff_codes(counts, symbols)

    luma_idx = [0]
    chroma_idx = [1, 2] if nch == 3 else []
    tables = {("dc", 0): table_for("dc", luma_idx), ("ac", 0): table_for("ac", luma_idx)}
    if chroma_idx:
        tables[("dc", 1)] = table_for("dc", chroma_idx)
        tables[("ac", 1)] = table_for("ac", chroma_idx)

    out = _frame_header(0xC0, q, h, w, nch)
    for (kind, tid), (counts, symbols, _) in sorted(tables.items()):
        tc = 0 if kind == "dc" else 1
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(symbols))
        out += bytes([(tc << 4) | tid]) + bytes(counts) + symbols
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nch, nch)
    for ci in range(nch):
        tid = 0 if ci == 0 else 1
        out += bytes([ci + 1, (tid << 4) | tid])
    out += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah/Al=0

    bw_ = _BitWriter()
    nblocks = blocks_per_plane[0].shape[0]
    for b in range(nblocks):  # 1x1 sampling: MCU = one block per component
        if restart_interval and b and b % restart_interval == 0:
            bw_.flush()
            out_rst = 0xD0 + ((b // restart_interval - 1) % 8)
            bw_.out += bytes([0xFF, out_rst])
        for pi in range(nch):
            tid = 0 if pi == 0 else 1
            dc_codes = tables[("dc", tid)][2]
            ac_codes = tables[("ac", tid)][2]
            for t in plane_syms[pi][b]:
                if t[0] == "dc":
                    _, s, extra = t
                    code, ln = dc_codes[s]
                    bw_.write(code, ln)
                    if s:
                        bw_.write(extra, s)
                else:
                    _, rs, s, extra = t
                    code, ln = ac_codes[rs]
                    bw_.write(code, ln)
                    if s:
                        bw_.write(extra, s)
    bw_.flush()
    out += bw_.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _quantized_planes(img, qtable):
    """Shared encoder front-end: (plane-blocks [(nblocks, 64) int64 in
    natural order], h, w, nch, q_zigzag). 1x1 sampling: block index runs
    row-major over ceil(h/8) x ceil(w/8)."""
    if img.ndim == 2:
        img = img[:, :, None]
    if img.dtype != np.uint8 or img.shape[2] not in (1, 3):
        raise ValueError("expected HxWx{1,3} uint8")
    h, w, nch = img.shape
    q = (EXACT_QTABLE if qtable is None else np.asarray(qtable, np.int64)).copy()
    if q.shape != (64,) or (q < 1).any() or (q > 255).any():
        raise ValueError("qtable must be 64 ints in [1, 255] (zigzag order)")
    if nch == 3:
        f = img.astype(np.float64)
        y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        cb = 128.0 - 0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2]
        cr = 128.0 + 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2]
        planes = [y, cb, cr]
    else:
        planes = [img[:, :, 0].astype(np.float64)]
    bh, bw = -(-h // 8) * 8, -(-w // 8) * 8
    q_nat = np.empty(64, np.int64)
    q_nat[ZIGZAG] = q
    out = []
    for p in planes:
        padded = np.pad(p, ((0, bh - h), (0, bw - w)), mode="edge") - 128.0
        nby, nbx = bh // 8, bw // 8
        blk = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("km,ijmn,ln->ijkl", _A, blk, _A)
        out.append(np.round(coef / q_nat.reshape(8, 8)).astype(np.int64).reshape(-1, 64))
    return out, h, w, nch, q


def _frame_header(sof: int, q, h: int, w: int, nch: int) -> bytearray:
    """SOI, JFIF APP0, the one DQT (table 0) and the SOFn frame header
    (`sof` 0xC0 baseline or 0xC2 progressive) with every component at
    1x1 sampling on quantization table 0."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(int(v) for v in q)
    out += bytes([0xFF, sof]) + struct.pack(">HBHHB", 8 + 3 * nch, 8, h, w, nch)
    for ci in range(nch):
        out += bytes([ci + 1, 0x11, 0])  # component id, 1x1 sampling, qtable 0
    return out


class _OpStream:
    """Scan body as (huffman-symbol | raw-bit) ops so one symbol pass
    feeds both the table histogram and the final emission."""

    def __init__(self) -> None:
        self.ops: list = []

    def sym(self, table: int, s: int) -> None:
        self.ops.append(("h", table, s))

    def bits(self, val: int, n: int) -> None:
        if n:
            self.ops.append(("b", val, n))

    def freqs(self, n_tables: int) -> list[np.ndarray]:
        fs = [np.zeros(256, np.int64) for _ in range(n_tables)]
        for op in self.ops:
            if op[0] == "h":
                fs[op[1]][op[2]] += 1
        return fs

    def emit(self, bw: _BitWriter, codes: list[dict]) -> None:
        for op in self.ops:
            if op[0] == "h":
                code, ln = codes[op[1]][op[2]]
                bw.write(code, ln)
            else:
                bw.write(op[1], op[2])


class _EobState:
    """End-of-band run accumulator for progressive AC scans: EOBn symbols
    cover runs of all-trailing-zero bands; refinement correction bits
    buffered inside the run are emitted right after the EOBn symbol."""

    def __init__(self, ops: _OpStream):
        self.ops = ops
        self.run = 0
        self.pending_bits: list[int] = []

    def flush(self) -> None:
        if self.run == 0:
            if self.pending_bits:
                raise AssertionError("correction bits without an EOB run")
            return
        r = self.run.bit_length() - 1
        self.ops.sym(0, r << 4)
        self.ops.bits(self.run - (1 << r), r)
        for b in self.pending_bits:
            self.ops.bits(b, 1)
        self.run = 0
        self.pending_bits = []

    def add(self, bits: list[int]) -> None:
        self.run += 1
        self.pending_bits.extend(bits)
        if self.run == 0x7FFF:
            self.flush()


def _encode_ac_first_block(ops, eob, band_vals, al):
    """One block of an Ah==0 AC scan: run-length over the Al-shifted
    magnitudes with EOB-run accumulation."""
    vals = [
        (-((-v) >> al) if v < 0 else v >> al) for v in band_vals
    ]  # magnitude shift, sign preserved (toward-zero division)
    last_nz = max((i for i, v in enumerate(vals) if v), default=-1)
    if last_nz < 0:
        eob.add([])
        return
    r = 0
    for v in vals[: last_nz + 1]:
        if v == 0:
            r += 1
            continue
        eob.flush()
        while r > 15:
            ops.sym(0, 0xF0)
            r -= 16
        mag = abs(v)
        s = mag.bit_length()
        if s > 10:
            raise ValueError("AC coefficient magnitude exceeds range")
        ops.sym(0, (r << 4) | s)
        ops.bits(v if v >= 0 else v + (1 << s) - 1, s)
        r = 0
    if last_nz < len(vals) - 1:
        eob.add([])


def _encode_ac_refine_block(ops, eob, band_vals, al):
    """One block of an Ah!=0 AC refinement scan. Ordering contract (T.81
    G.1.2.3, figure G.7): at every nonzero absval reached with r > 15 a
    ZRL is emitted — but only while the position is <= the last
    newly-significant index (beyond it the zeros fold into the EOB run) —
    and each emitted symbol is followed by exactly the correction bits
    buffered since the previous symbol, so the decoder's skip loop reads
    them at the positions it passes."""
    absvals = [abs(v) >> al for v in band_vals]
    eob_idx = max((i for i, a in enumerate(absvals) if a == 1), default=-1)
    r = 0
    buffered: list[int] = []
    for i, a in enumerate(absvals):
        if a == 0:
            r += 1
            continue
        while r > 15 and i <= eob_idx:
            eob.flush()
            ops.sym(0, 0xF0)
            r -= 16
            for b in buffered:
                ops.bits(b, 1)
            buffered = []
        if a > 1:
            buffered.append(a & 1)
            continue
        # newly significant at this bit plane
        eob.flush()
        ops.sym(0, (r << 4) | 1)
        ops.bits(1 if band_vals[i] >= 0 else 0, 1)
        for b in buffered:
            ops.bits(b, 1)
        buffered = []
        r = 0
    if r > 0 or buffered:
        eob.add(buffered)


def encode_jpeg_progressive(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    scans: list | None = None,
) -> bytes:
    """HxWx{1,3} uint8 -> progressive (SOF2) JFIF bytes.

    `scans` is a list of (component-indices, Ss, Se, Ah, Al); the default
    script does DC with one refinement pass then per-component AC 1-63
    with one refinement pass. Quantized coefficients are identical to
    encode_jpeg's, so decoding this stream is bit-identical to decoding
    the sequential stream (the invariant the tests pin). Huffman tables
    are optimal per scan and embedded. 1x1 sampling, no restart markers."""
    qc, h, w, nch, q = _quantized_planes(img, qtable)
    if scans is None:
        scans = [(list(range(nch)), 0, 0, 0, 1), (list(range(nch)), 0, 0, 1, 0)]
        for ci in range(nch):
            scans.append(([ci], 1, 63, 0, 1))
        for ci in range(nch):
            scans.append(([ci], 1, 63, 1, 0))

    out = _frame_header(0xC2, q, h, w, nch)

    nblocks = qc[0].shape[0]
    # per-coefficient completion tracking is the caller's responsibility;
    # we only validate the script shape
    for comps, ss, se, ah, al in scans:
        ops = _OpStream()
        is_dc = ss == 0
        if is_dc and se != 0:
            raise ValueError("DC scan must have Se == 0")
        if not is_dc and len(comps) != 1:
            raise ValueError("AC scans must be single-component")
        if is_dc:
            preds = {ci: 0 for ci in comps}
            for b in range(nblocks):
                for ci in comps:
                    tab = 0 if ci == 0 else 1
                    dc = int(qc[ci][b][0]) >> al  # arithmetic shift per G.1.2.1
                    if ah == 0:
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        mag = abs(diff)
                        s = mag.bit_length()
                        ops.sym(tab, s)
                        ops.bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
                    else:
                        ops.bits(dc & 1, 1)
        else:
            ci = comps[0]
            eob = _EobState(ops)
            zz_band = ZIGZAG[ss : se + 1]
            for b in range(nblocks):
                band_vals = [int(v) for v in qc[ci][b][zz_band]]
                if ah == 0:
                    _encode_ac_first_block(ops, eob, band_vals, al)
                else:
                    _encode_ac_refine_block(ops, eob, band_vals, al)
            eob.flush()

        # tables: DC scans may use up to 2 (luma/chroma); AC scans use 1.
        n_tabs = 2 if (is_dc and any(ci != 0 for ci in comps)) else 1
        codes: list[dict] = [{}] * n_tabs
        if not (is_dc and ah != 0):  # DC refinement scans are table-free
            for t, freq in enumerate(ops.freqs(n_tabs)):
                if not freq.any():
                    continue
                counts, symbols = _build_huffman(freq)
                codes[t] = _huff_codes(counts, symbols)
                tc = 0 if is_dc else 1
                out += b"\xff\xc4" + struct.pack(">H", 19 + len(symbols))
                out += bytes([(tc << 4) | t]) + bytes(counts) + symbols
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
        for ci in comps:
            if is_dc:
                t = 0 if ci == 0 else 1
                out += bytes([ci + 1, t << 4])
            else:
                # AC scans re-emit their table as id 0 every scan
                out += bytes([ci + 1, 0])
        out += bytes([ss, se, (ah << 4) | al])
        bw = _BitWriter()
        ops.emit(bw, codes)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
