"""Baseline-JPEG (ITU-T T.81) coefficient codec and pixel decoder in
pure numpy — the last honestly-stubbed image format gets a real decode
path.

Scope (raises NotImplementedError outside it, like the PNG/WAV/GIF
codecs): baseline DCT, 8-bit, Huffman, sampling factors 1-2 per axis
(so 4:4:4, 4:2:2 and the ubiquitous 4:2:0 all decode, chroma upsampled
nearest-neighbor), restart intervals (DRI/RSTn with predictor reset) —
grayscale or 3-component YCbCr.  Progressive, arithmetic coding and
12-bit genuinely need a codec library.

Certification design: the fixture ENCODER takes quantized DCT
coefficients directly (no forward DCT), so the byte stream's content
is an exact integer contract; the decoder recovers the coefficients
via Huffman+zigzag+dequant and runs the IDCT.  With sparse fixture
coefficients the oracle replays the IDCT analytically in SQL (a
4-term cosine sum per pixel), certifying the whole chain against an
independent recompute.  Descale convention: floor(x + 0.5) — half-up,
chosen because it is expressible identically in SQL (FLOOR(x+0.5));
real decoders differ from each other by the same ±1 convention space.

Huffman tables are written per stream (DHT carries them), so the
encoder emits a minimal canonical table covering exactly its symbols —
spec-legal and transcription-proof; the decoder reads any DHT.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Sequence, Tuple

import numpy as np


def zigzag_order() -> List[Tuple[int, int]]:
    """The 64 (row, col) coefficient positions in JPEG zigzag order."""
    out = []
    for s in range(15):
        rng = range(max(0, s - 7), min(7, s) + 1)
        rows = list(rng) if s % 2 else list(rng)[::-1]
        for r in rows:
            out.append((r, s - r))
    return out


_ZZ = zigzag_order()

_IDCT_M = np.array([[np.cos((2 * x + 1) * u * np.pi / 16)
                     * (1 / np.sqrt(2) if u == 0 else 1.0)
                     for x in range(8)] for u in range(8)])


def idct_8x8(coef: np.ndarray) -> np.ndarray:
    """f(y,x) = 1/4 Σ_r Σ_c C(r)C(c) F[r,c] cos((2y+1)rπ/16)
    cos((2x+1)cπ/16) — float64, no descale."""
    return 0.25 * (_IDCT_M.T @ coef @ _IDCT_M)


def _descale(block: np.ndarray) -> np.ndarray:
    """Level shift + half-up rounding + clamp (the SQL-replayable
    convention: FLOOR(x + 128.5) clipped to [0, 255])."""
    return np.clip(np.floor(block + 128.5), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# bit IO with 0xFF00 stuffing
# --------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = self.n = 0

    def flush(self):
        while self.n:                      # pad with 1s per spec
            self.write(1, 1)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def expect_restart(self):
        """Byte-align (drop pad bits) and consume the next RSTn marker.
        Only padding / stuffed bytes can precede it at a legal restart
        boundary, so a bounded forward scan is safe."""
        self.n = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and \
                    0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected JPEG restart marker")


def _receive_extend(r: _BitReader, t: int) -> int:
    """DC/AC magnitude decode (T.81 F.2.2.1): t bits; values with a
    leading 0 bit are negative (stored as value - 1)."""
    if t == 0:
        return 0
    v = r.read_bits(t)
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# --------------------------------------------------------------------------
# canonical Huffman tables
# --------------------------------------------------------------------------

def _build_decode(bits: Sequence[int], vals: Sequence[int]) -> Dict:
    """(code_length, code) → symbol from the DHT BITS/HUFFVAL arrays."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_encode(symbols: Sequence[int]) -> Tuple[List[int], List[int],
                                                   Dict[int, Tuple[int, int]]]:
    """Minimal canonical table covering exactly `symbols` (sorted):
    assign ascending code lengths so no code is all-ones-prefix issues;
    simplest valid assignment: put all symbols at the same length L
    with 2^L > len(symbols) (never all-ones when strict)."""
    syms = sorted(set(symbols))
    length = max(2, (len(syms) + 1).bit_length())   # leave headroom
    bits = [0] * 16
    bits[length - 1] = len(syms)
    enc = {s: (length, i) for i, s in enumerate(syms)}
    return bits, syms, enc


def _huff_decode(r: _BitReader, table: Dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.read_bit()
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid Huffman code in JPEG stream")


# --------------------------------------------------------------------------
# fixture encoder: quantized coefficients -> baseline JPEG bytes
# --------------------------------------------------------------------------

def jpeg_encode_coefficients(blocks, width: int, height: int,
                             quant: np.ndarray,
                             n_components: int = 1,
                             sampling=None,
                             restart_interval: int = 0) -> bytes:
    """Build a valid baseline JPEG stream from QUANTIZED coefficient
    blocks (list of 8x8 int arrays).  ``sampling``: per-component
    (h, v) factors (default 1x1) — blocks are supplied MCU-interleaved
    (for each MCU, component order, h*v raster blocks each; e.g. 4:2:0
    = YYYY Cb Cr per MCU).  ``restart_interval`` > 0 emits a DRI
    segment and an RSTn marker (predictors reset, byte-aligned) every
    that many MCUs.  DC prediction and zigzag per spec; one shared
    quant table and per-class minimal DHT."""
    quant = np.asarray(quant, dtype=np.int64)
    if quant.min() < 1 or quant.max() > 255:
        raise ValueError("quant table entries must be in [1, 255]")
    blocks = [np.asarray(b, dtype=np.int64) for b in blocks]
    sampling = list(sampling or [(1, 1)] * n_components)
    comp_seq = [c for c in range(n_components)
                for _ in range(sampling[c][0] * sampling[c][1])]
    per_mcu = len(comp_seq)

    # first pass: collect symbols for the minimal Huffman tables
    dc_syms, ac_syms = set(), set()
    pred = [0] * n_components
    seq = []                                  # (comp, dc_sym, dc_val, acs)
    restarts = set()                          # block indexes preceded by RST
    for i, blk in enumerate(blocks):
        comp = comp_seq[i % per_mcu]
        mcu = i // per_mcu
        if restart_interval and i % per_mcu == 0 and mcu and \
                mcu % restart_interval == 0:
            restarts.add(i)
            pred = [0] * n_components
        zz = [int(blk[r, c]) for (r, c) in _ZZ]
        diff = zz[0] - pred[comp]
        pred[comp] = zz[0]
        dc_syms.add(_category(diff))
        acs = []
        run = 0
        for v in zz[1:]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                acs.append((0xF0, 0))
                ac_syms.add(0xF0)
                run -= 16
            sym = (run << 4) | _category(v)
            acs.append((sym, v))
            ac_syms.add(sym)
            run = 0
        if run:
            acs.append((0x00, 0))             # EOB
            ac_syms.add(0x00)
        seq.append((comp, _category(diff), diff, acs))
    ac_syms.add(0x00)
    dc_bits, dc_vals, dc_enc = _build_encode(dc_syms)
    ac_bits, ac_vals, ac_enc = _build_encode(ac_syms)

    w = _BitWriter()
    n_rst = 0
    for bi, (comp, cat, diff, acs) in enumerate(seq):
        if bi in restarts:
            w.flush()
            w.out += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
        ln, code = dc_enc[cat]
        w.write(code, ln)
        if cat:
            w.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        for sym, v in acs:
            ln, code = ac_enc[sym]
            w.write(code, ln)
            size = sym & 0x0F
            if size:
                w.write(v if v > 0 else v + (1 << size) - 1, size)
    w.flush()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) \
            + payload

    zz_q = bytes(int(quant[r, c]) for (r, c) in _ZZ)
    out = bytearray(b"\xff\xd8")              # SOI
    out += seg(0xDB, b"\x00" + zz_q)          # DQT table 0, 8-bit
    sof = struct.pack(">BHHB", 8, height, width, n_components)
    for c in range(n_components):
        hc, vc = sampling[c]
        sof += bytes([c + 1, (hc << 4) | vc, 0])
    out += seg(0xC0, sof)                     # SOF0 baseline
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xC4, b"\x00" + bytes(dc_bits) + bytes(dc_vals))
    out += seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    sos = bytes([n_components])
    for c in range(n_components):
        sos += bytes([c + 1, 0x00])           # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += w.out
    out += b"\xff\xd9"                        # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

def jpeg_decode_pixels(b: bytes) -> np.ndarray:
    """Decode a baseline JPEG (8-bit, Huffman; 1-2 sampling factors per
    axis, i.e. 4:4:4 / 4:2:0 / 4:2:2) to uint8 pixels: (H, W) grayscale
    or (H, W, 3) RGB via BT.601 YCbCr→RGB.  Parses DQT/SOF0/DHT/SOS
    generically."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    i = 2
    quants: Dict[int, np.ndarray] = {}
    huff: Dict[Tuple[int, int], Dict] = {}
    w = h = None
    comps: List[Tuple[int, int, int, int]] = []   # (id, hs, vs, quant_id)
    comp_tables: Dict[int, Tuple[int, int]] = {}
    scan_order: List[int] = []
    dri = 0
    data_start = None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError(f"expected marker at offset {i}")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", b[i + 2:i + 4])
        payload = b[i + 4:i + 2 + ln]
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                q = np.zeros((8, 8), dtype=np.int64)
                for k, (r, c) in enumerate(_ZZ):
                    q[r, c] = payload[p + 1 + k]
                quants[tq] = q
                p += 65
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0}: only baseline SOF0 decodes")
        elif marker == 0xC0:
            prec, h, w, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise NotImplementedError("12-bit JPEG")
            for c in range(nc):
                cid, hv, tq = payload[6 + 3 * c:9 + 3 * c]
                hs, vs = hv >> 4, hv & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factors {hs}x{vs}: only 1-2 supported")
                comps.append((cid, hs, vs, tq))
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1:p + 17])
                nv = sum(bits)
                vals = list(payload[p + 17:p + 17 + nv])
                huff[(tc, th)] = _build_decode(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:
            ns = payload[0]
            for c in range(ns):
                cid, tt = payload[1 + 2 * c:3 + 2 * c]
                comp_tables[cid] = (tt >> 4, tt & 0x0F)
                scan_order.append(cid)
            data_start = i + 2 + ln
            break
        i += 2 + ln
    if data_start is None or w is None:
        raise ValueError("JPEG missing SOF/SOS")

    end = b.rfind(b"\xff\xd9")
    r = _BitReader(b[data_start:end if end > data_start else len(b)])
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    qmap = {cid: tq for cid, _, _, tq in comps}
    samp = {cid: (hs, vs) for cid, hs, vs, _ in comps}
    planes = {cid: np.zeros((mcuy * 8 * vs, mcux * 8 * hs))
              for cid, hs, vs, _ in comps}
    pred = {cid: 0 for cid, _, _, _ in comps}

    def decode_block(cid):
        dc_t, ac_t = comp_tables[cid]
        coef = np.zeros((8, 8), dtype=np.int64)
        t = _huff_decode(r, huff[(0, dc_t)])
        pred[cid] += _receive_extend(r, t)
        coef[0, 0] = pred[cid]
        k = 1
        while k < 64:
            sym = _huff_decode(r, huff[(1, ac_t)])
            if sym == 0x00:           # EOB
                break
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run != 15:
                    raise ValueError("bad AC symbol")
                k += 16               # ZRL
                continue
            k += run
            if k > 63:
                raise ValueError("AC run past block end")
            rr, cc = _ZZ[k]
            coef[rr, cc] = _receive_extend(r, size)
            k += 1
        return idct_8x8(coef * quants[qmap[cid]])

    mcu_n = 0
    for myy in range(mcuy):
        for mxx in range(mcux):
            if dri and mcu_n and mcu_n % dri == 0:
                r.expect_restart()    # byte-align + RSTn
                for cid in pred:      # predictors reset at restart
                    pred[cid] = 0
            for cid in scan_order:
                hs, vs = samp[cid]
                for byy in range(vs):
                    for bxx in range(hs):
                        blk = decode_block(cid)
                        y0 = (myy * vs + byy) * 8
                        x0 = (mxx * hs + bxx) * 8
                        planes[cid][y0:y0 + 8, x0:x0 + 8] = blk
            mcu_n += 1
    # nearest-neighbor upsample subsampled planes to full resolution
    for cid, hs, vs, _ in comps:
        if hs < hmax:
            planes[cid] = np.repeat(planes[cid], hmax // hs, axis=1)
        if vs < vmax:
            planes[cid] = np.repeat(planes[cid], vmax // vs, axis=0)
    if len(comps) == 1:
        return _descale(planes[comps[0][0]][:h, :w])
    if len(comps) == 3:
        y, cb, cr = (planes[cid][:h, :w] + 128 for cid, _, _, _ in comps)
        rr = y + 1.402 * (cr - 128)
        gg = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
        bb = y + 1.772 * (cb - 128)
        return np.stack([np.clip(np.floor(p + 0.5), 0, 255)
                         for p in (rr, gg, bb)],
                        axis=-1).astype(np.uint8)
    raise NotImplementedError(f"{len(comps)}-component JPEG")


# --------------------------------------------------------------------------
# Spark plumbing + SQL-replayable fixtures
# --------------------------------------------------------------------------

# fixture contract shared with the SQL oracle: 16x16 grayscale, four
# 8x8 blocks b=0..3 (raster), quant q(r,c) = 1 + (r+c) % 3, sparse
# quantized coefficients per block:
#   DC      = ((doc_id*7 + b*5) % 101) - 50
#   AC(0,1) = ((doc_id + b)    %   9) -  4
#   AC(1,0) = ((doc_id*3 + b)  %   7) -  3
#   AC(2,2) = 1 + ((doc_id + 2*b) % 4)   [always nonzero: keeps
#             every pixel off exact FLOOR boundaries - see
#             fixture_boundary_distance]
# so each pixel is a 4-term cosine sum the oracle states in closed form.

def fixture_quant() -> np.ndarray:
    return 1 + (np.add.outer(np.arange(8), np.arange(8)) % 3)


def fixture_blocks(doc_id: int) -> List[np.ndarray]:
    out = []
    for b in range(4):
        c = np.zeros((8, 8), dtype=np.int64)
        c[0, 0] = (doc_id * 7 + b * 5) % 101 - 50
        c[0, 1] = (doc_id + b) % 9 - 4
        c[1, 0] = (doc_id * 3 + b) % 7 - 3
        c[2, 2] = 1 + (doc_id + 2 * b) % 4
        out.append(c)
    return out


def synth_jpeg_column(docs, id_col: str = "doc_id"):
    """(doc_id string, media_bytes binary): one real baseline-JPEG
    stream per doc from the fixture coefficient contract."""
    from medcat_spark.functions.media import _synth_column
    q = fixture_quant()
    return _synth_column(docs, id_col, lambda did: jpeg_encode_coefficients(
        fixture_blocks(did), 16, 16, q))


def media_jpeg_stats(df, bytes_col: str = "media_bytes",
                     id_col: str = "doc_id"):
    """REAL JPEG pixel decode over a binary column: jpeg_decode_pixels
    → per-image dims/mean/sum (media.PIXEL_STATS_SCHEMA)."""
    from medcat_spark.functions.media import (PIXEL_STATS_SCHEMA,
                                              _decode_head)

    def stats(b):
        px = jpeg_decode_pixels(b)
        s = int(px.astype("int64").sum())
        # sum/size is exactly representable (dyadic) — no rounding, so
        # there is no banker's-vs-half-away tie
        return [(int(px.shape[1]), int(px.shape[0]), s / px.size, s)]
    return _decode_head(df, PIXEL_STATS_SCHEMA, bytes_col, id_col, stats)


def fixture_boundary_distance(max_doc_id: int) -> float:
    """Design-time guard for the SQL oracle: the minimum distance of
    any pre-floor pixel value (v + 128.5) to an integer across all
    fixture images — must be ≫ the ~1e-13 cross-engine float noise for
    FLOOR to agree everywhere."""
    q = fixture_quant()
    dist = 1.0
    for did in range(max_doc_id + 1):
        for blk in fixture_blocks(did):
            v = idct_8x8(blk * q) + 128.5
            dist = min(dist, float(np.abs(v - np.round(v)).min()))
    return dist
