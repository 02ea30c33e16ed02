"""Baseline JPEG codec — stdlib + numpy, no PIL.

Implements the baseline sequential DCT process of ITU-T T.81 /
ISO 10918-1 (the published JPEG standard):

* decoder: DQT/DHT/SOF0/SOF1/DRI/SOS marker parse, canonical Huffman
  entropy decode with byte-stuffing and restart markers, dequantize,
  8x8 inverse DCT (orthonormal DCT-III via a numpy basis matrix),
  chroma upsampling for 4:4:4 / 4:2:2 / 4:2:0, JFIF YCbCr -> RGB;
* encoder: grayscale or RGB 4:4:4 / 4:2:0, Annex-K luminance
  quantization table, per-image canonical Huffman tables (all codes
  8 bits — valid per the BITS/HUFFVAL construction and far simpler
  than the Annex-K defaults), restart-interval support.

Progressive (SOF2), arithmetic and hierarchical processes raise
ValueError — callers fall back to the SOF dimension probe (and PIL
where installed), keeping the quarantine contract.

Exactness note for oracles: an 8x8 block of one constant EVEN value v
round-trips bit-exactly (only the DC coefficient is non-zero;
quantizer step 16 halves it and the decoder doubles it back), so
constant-tile fixtures give closed-form expected pixels while still
exercising DC prediction, EOB coding, and the full marker stream.
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K Table K.1 — luminance quantization (quality 50)
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int32)


def _zigzag() -> list[tuple[int, int]]:
    """The standard zigzag scan order, generated from its definition
    (T.81 Figure 5): anti-diagonals, alternating direction."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        if d % 2 == 0:
            rng = reversed(rng)
        for r in rng:
            order.append((r, d - r))
    return order


ZIGZAG = _zigzag()

# orthonormal 8x8 DCT-II basis: coef = C @ block @ C.T
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (np.sqrt(0.125 if _u == 0 else 0.25)
                      * np.cos((2 * _x + 1) * _u * np.pi / 16))


def _idct(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


# ---------------------------------------------------------------------------
# canonical Huffman (BITS/HUFFVAL construction, T.81 Annex C)
# ---------------------------------------------------------------------------

def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)      # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


class _BitReader:
    """Entropy-segment reader: un-stuffs 0xFF00, stops AT markers."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("jpeg: marker inside entropy data")
        else:
            self.pos += 1
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

    def align_to_marker(self) -> int:
        """Byte-align and consume a restart marker; returns its index."""
        self.acc = 0
        self.nbits = 0
        if self.buf[self.pos] != 0xFF:
            raise ValueError("jpeg: expected restart marker")
        m = self.buf[self.pos + 1]
        if not 0xD0 <= m <= 0xD7:
            raise ValueError("jpeg: expected RSTn")
        self.pos += 2
        return m - 0xD0


def _decode_huff(r: _BitReader, table: dict) -> int:
    """table: (code, length) -> symbol (inverted lookup dict)."""
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("jpeg: bad Huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


def _mag(v: int) -> tuple[int, int]:
    """value -> (size, bits) for DC/AC magnitude coding."""
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        return size, v + (1 << size) - 1
    return size, v


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def _rgb_to_ycbcr(img: np.ndarray) -> list[np.ndarray]:
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return [y, cb, cr]


def _subsample(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    if fh == 1 and fv == 1:
        return plane
    h, w = plane.shape
    ph = -h % fv
    pw = -w % fh
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return p.reshape(p.shape[0] // fv, fv,
                     p.shape[1] // fh, fh).mean(axis=(1, 3))


def _plane_blocks(plane: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """Pad to (bh*8, bw*8) and split into (bh, bw, 8, 8)."""
    h, w = plane.shape
    p = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    return p.reshape(bh, 8, bw, 8).swapaxes(1, 2)


def encode_baseline_jpeg(img: np.ndarray, subsampling: str = "4:4:4",
                         restart_interval: int = 0) -> bytes:
    """uint8 grayscale (H, W) or RGB (H, W, 3) -> baseline JFIF bytes."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        comps = [(1, 1, 1)]                # (id, fh, fv)
        planes = [img.astype(np.float64)]
    else:
        fh, fv = (1, 1) if subsampling == "4:4:4" else (2, 2)
        comps = [(1, fh, fv), (2, 1, 1), (3, 1, 1)]
        y, cb, cr = _rgb_to_ycbcr(img)
        planes = [y, _subsample(cb, fh, fv), _subsample(cr, fh, fv)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    quant = QUANT_LUMA
    # DCT + quantize every block of every component, in MCU order
    blocks_of: list[np.ndarray] = []
    for (cid, fh, fv), plane in zip(comps, planes):
        bw, bh = mcux * fh, mcuy * fv
        tiles = _plane_blocks(plane - 128.0, bw, bh)
        q = np.round(np.einsum("ux,ijxy,vy->ijuv", _C, tiles, _C)
                     / quant).astype(np.int64)
        blocks_of.append(q)

    # serialize MCUs to (symbol streams) with DC prediction
    dc_syms: list[tuple[int, int, int]] = []   # (size, bits, _)
    ac_runs: list[list[tuple[int, int, int]]] = []
    stream: list[tuple[str, tuple]] = []       # interleaved ops
    pred = [0] * len(comps)
    mcu_index = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_index and \
                    mcu_index % restart_interval == 0:
                stream.append(("rst", ((mcu_index // restart_interval
                                        - 1) % 8,)))
                pred = [0] * len(comps)
            mcu_index += 1
            for ci, (cid, fh, fv) in enumerate(comps):
                for by in range(fv):
                    for bx in range(fh):
                        blk = blocks_of[ci][my * fv + by, mx * fh + bx]
                        zz = [int(blk[r, c]) for r, c in ZIGZAG]
                        diff = zz[0] - pred[ci]
                        pred[ci] = zz[0]
                        stream.append(("dc", _mag(diff)))
                        run = 0
                        acs = []
                        for v in zz[1:]:
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                acs.append((0xF0, 0, 0))
                                run -= 16
                            size, bits = _mag(v)
                            acs.append(((run << 4) | size, bits, size))
                            run = 0
                        if run:
                            acs.append((0x00, 0, 0))   # EOB
                        stream.append(("ac", tuple(acs)))

    # per-image canonical tables: every used symbol gets an 8-bit code
    dc_used = sorted({s for op, args in stream if op == "dc"
                      for s in [args[0]]})
    ac_used = sorted({sym for op, args in stream if op == "ac"
                      for sym, _, _ in args})
    if not ac_used:
        ac_used = [0x00]
    dc_bits = [0] * 16
    dc_bits[7] = len(dc_used)
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_used)
    dc_codes = _canonical_codes(dc_bits, dc_used)
    ac_codes = _canonical_codes(ac_bits, ac_used)

    bw_ = _BitWriter()
    out = bytearray(b"\xff\xd8")           # SOI
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    qz = bytes(int(quant[r, c]) for r, c in ZIGZAG)
    out += b"\xff\xdb" + struct.pack(">HB", 3 + 64, 0x00) + qz
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8,
                                     h, w, len(comps))
    for cid, fh, fv in comps:
        out += struct.pack(">BBB", cid, (fh << 4) | fv, 0)

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return (b"\xff\xc4"
                + struct.pack(">HB", 3 + 16 + len(vals),
                              (cls << 4) | tid)
                + bytes(bits) + bytes(vals))

    out += dht(0, 0, dc_bits, dc_used)
    out += dht(1, 0, ac_bits, ac_used)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps),
                                     len(comps))
    for cid, _fh, _fv in comps:
        out += struct.pack(">BB", cid, 0x00)   # DC table 0, AC table 0
    out += b"\x00\x3f\x00"                     # Ss/Se/AhAl

    for op, args in stream:
        if op == "rst":
            bw_.flush()
            out += bytes(bw_.out)
            bw_.out = bytearray()
            out += bytes([0xFF, 0xD0 + args[0]])
        elif op == "dc":
            size, bits = args
            code, ln = dc_codes[size]
            bw_.write(code, ln)
            if size:
                bw_.write(bits, size)
        else:
            for sym, bits, size in args:
                code, ln = ac_codes[sym]
                bw_.write(code, ln)
                if size:
                    bw_.write(bits, size)
    bw_.flush()
    out += bytes(bw_.out)
    out += b"\xff\xd9"                     # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def decode_baseline_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> uint8 array (H, W) or (H, W, 3).

    Raises ValueError for progressive/arithmetic/unsupported streams
    (callers fall back to the SOF probe / PIL gate).
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("jpeg: bad SOI")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []   # id, fh, fv, tq
    h = w = 0
    restart = 0
    scan: list[tuple[int, int, int]] = []         # comp idx, dc tid, ac tid
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("jpeg: marker desync")
        marker = payload[pos + 1]
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:                 # DQT
            bpos = 0
            while bpos < len(body):
                pq, tq = body[bpos] >> 4, body[bpos] & 0x0F
                bpos += 1
                n = 64 * (2 if pq else 1)
                vals = (np.frombuffer(body[bpos:bpos + n],
                                      dtype=">u2" if pq else np.uint8)
                        .astype(np.int32))
                t = np.zeros((8, 8), dtype=np.int32)
                for (r, c), v in zip(ZIGZAG, vals):
                    t[r, c] = int(v)
                quant[tq] = t
                bpos += n
        elif marker == 0xC4:               # DHT
            bpos = 0
            while bpos < len(body):
                cls, tid = body[bpos] >> 4, body[bpos] & 0x0F
                bits = list(body[bpos + 1:bpos + 17])
                nv = sum(bits)
                vals = list(body[bpos + 17:bpos + 17 + nv])
                codes = _canonical_codes(bits, vals)
                huff[(cls, tid)] = {v: k for k, v in codes.items()}
                bpos += 17 + nv
        elif marker in (0xC0, 0xC1):       # SOF0/1 baseline
            _prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            comps = []
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: non-baseline process unsupported")
        elif marker == 0xDD:               # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:               # SOS
            ns = body[0]
            for i in range(ns):
                cid, tt = struct.unpack_from(">BB", body, 1 + 2 * i)
                ci = next(j for j, c in enumerate(comps) if c[0] == cid)
                scan.append((ci, tt >> 4, tt & 0x0F))
            pos = pos + 2 + seglen
            return _decode_scan(payload, pos, quant, huff, comps, scan,
                                h, w, restart)
        pos += 2 + seglen
    raise ValueError("jpeg: no SOS scan")


def _decode_scan(payload, pos, quant, huff, comps, scan, h, w, restart):
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # inverted Huffman maps: (code, length) -> symbol
    inv = {k: t for k, t in huff.items()}
    planes = [np.zeros((mcuy * fv * 8, mcux * fh * 8))
              for _cid, fh, fv, _tq in comps]
    r = _BitReader(payload, pos)
    pred = [0] * len(comps)
    mcu_index = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_index and mcu_index % restart == 0:
                r.align_to_marker()
                pred = [0] * len(comps)
            mcu_index += 1
            for ci, dc_t, ac_t in scan:
                _cid, fh, fv, tq = comps[ci]
                qt = quant[tq]
                for by in range(fv):
                    for bx in range(fh):
                        zz = np.zeros(64, dtype=np.int64)
                        size = _decode_huff(r, inv[(0, dc_t)])
                        diff = _extend(r.bits(size), size)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            sym = _decode_huff(r, inv[(1, ac_t)])
                            if sym == 0x00:
                                break      # EOB
                            run, size = sym >> 4, sym & 0x0F
                            if size == 0:
                                if run != 15:
                                    raise ValueError("jpeg: bad AC sym")
                                k += 16
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("jpeg: AC overflow")
                            zz[k] = _extend(r.bits(size), size)
                            k += 1
                        coef = np.zeros((8, 8))
                        for (rr, cc), v in zip(ZIGZAG, zz):
                            coef[rr, cc] = v
                        blk = _idct(coef * qt) + 128.0
                        y0 = (my * fv + by) * 8
                        x0 = (mx * fh + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = blk

    # upsample to full resolution and crop
    full = []
    for (cid, fh, fv, _tq), plane in zip(comps, planes):
        if fh != hmax or fv != vmax:
            plane = np.repeat(np.repeat(plane, vmax // fv, axis=0),
                              hmax // fh, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r_, g_, b_], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
