"""Pure-stdlib + numpy baseline-sequential JPEG codec (ITU-T T.81).

Closes the last real-decode gap in :mod:`mr_python_spark.multimodal`:
with no imaging library in the container, BMP/netpbm/PNG were already
really parsed and JPEG raised ``NotImplementedError``.  This module
implements the baseline sequential process from the public spec
(ITU-T T.81 / ISO 10918-1) with numpy for the 8×8 DCT math:

* :func:`decode_jpeg_pixels` — marker walk (DQT/DHT/SOF/SOS/DRI),
  canonical Huffman decode of the entropy-coded segment (byte
  unstuffing + restart markers), dequantize → 2-D IDCT (orthonormal
  DCT-III as two matrix products), nearest-neighbor chroma upsample
  for subsampled scans, JFIF YCbCr→RGB.  Scope: baseline DCT (SOF0),
  progressive (SOF2, spectral selection + successive approximation),
  and LOSSLESS (SOF3, Annex H predictive — see
  :func:`_decode_lossless_scan`), 8-bit samples, 1 or 3 components,
  sampling factors ≤ 2; arithmetic coding and the
  hierarchical/extended processes return None and fall through to
  the library-gated path.
* :func:`encode_jpeg` / :func:`encode_jpeg_progressive` /
  :func:`encode_jpeg_lossless` — the reverses, used by
  fixtures/tests: Annex K tables, FDCT (or predictive differences),
  run-length + canonical Huffman entropy coding with 0xFF byte
  stuffing.  The lossless pair roundtrips bit-exactly.

Everything is deterministic (no dithering, fixed tables).  Safety: the
same total-pixel cap as the PNG parser (2²⁴) bounds raster memory, and
every truncation/invalid-code path returns None instead of raising.

Reference parity note: tinymr (the reference engine) has no multimodal
surface at all — this belongs to the training-data-pipeline extension
tier, where image decode must be a REAL parse so a corrupted payload
fails the gate.
"""

from __future__ import annotations

import struct

# --- shared tables (ITU-T T.81 Annex K) --------------------------------

#: zigzag scan order: zigzag index -> natural (row-major) index
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K.1 luminance / K.2 chrominance quantization tables (zigzag order)
QT_LUMA = [
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101, 103, 99,
]
QT_CHROMA = [
    17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 typical Huffman tables: (BITS counts per code length 1..16,
#: HUFFVAL symbols) — luminance/chrominance × DC/AC
HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

#: same raster-memory bound as the PNG parser
MAX_PIXELS = 1 << 24


def _dct_matrix():
    """Orthonormal 8×8 DCT-II basis: row k = c(k)·cos((2j+1)kπ/16)/2."""
    import math

    import numpy as np

    T = np.zeros((8, 8))
    for k in range(8):
        c = math.sqrt(0.125) if k == 0 else 0.5
        for j in range(8):
            T[k, j] = c * math.cos((2 * j + 1) * k * math.pi / 16)
    return T


def _build_huffman_decode(bits, huffval):
    """Canonical Huffman: (code, length) -> symbol lookup dict."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_huffman_encode(bits, huffval):
    """Canonical Huffman: symbol -> (code, length)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first reader over the entropy-coded segment with 0xFF00
    unstuffing; restart markers terminate the current run (the MCU loop
    resets DC predictors and calls :meth:`restart`)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # pending marker (0xD0..0xD7 restart, or terminator)

    def _fill(self) -> bool:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                return self.nbits > 0
            b = self.data[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.data):
                    return self.nbits > 0
                nxt = self.data[self.pos + 1]
                if nxt == 0x00:  # stuffed literal 0xFF
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # restart marker
                    self.marker = nxt
                    self.pos += 2
                    return self.nbits > 0
                else:  # real marker (EOI etc.) ends the scan
                    self.marker = nxt
                    return self.nbits > 0
            else:
                self.pos += 1
            if self.marker is None:
                self.acc = (self.acc << 8) | b
                self.nbits += 8
        return True

    def read_bit(self):
        if self.nbits == 0 and not self._fill():
            return None
        if self.nbits == 0:
            return None
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int):
        v = 0
        for _ in range(n):
            b = self.read_bit()
            if b is None:
                return None
            v = (v << 1) | b
        return v

    def restart(self) -> bool:
        """Consume a pending restart marker and byte-align.

        The marker may not have been prefetched: :meth:`_fill` stops
        once nbits > 24, so an interval whose entropy data drains at a
        refill boundary leaves the 0xFFDx bytes unread in ``data``
        (e.g. a 4-byte tail fills 32 bits and returns before seeing
        the marker).  In that case discard the < 8 one-padding bits
        still in the accumulator and scan the marker here — otherwise
        most real multi-interval DRI JPEGs fail to decode."""
        if self.marker is None:
            self.acc = 0
            self.nbits = 0
            # T.81 B.1.1.2: optional 0xFF fill bytes may precede any
            # marker — skip them, then expect 0xFF 0xD0..0xD7
            while (
                self.pos + 1 < len(self.data)
                and self.data[self.pos] == 0xFF
                and self.data[self.pos + 1] == 0xFF
            ):
                self.pos += 1
            if (
                self.pos + 1 < len(self.data)
                and self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7
            ):
                self.marker = self.data[self.pos + 1]
                self.pos += 2
        if self.marker is None or not (0xD0 <= self.marker <= 0xD7):
            return False
        self.marker = None
        self.acc = 0
        self.nbits = 0
        return True


def _decode_huff_symbol(br: _BitReader, table):
    code = 0
    for length in range(1, 17):
        b = br.read_bit()
        if b is None:
            return None
        code = (code << 1) | b
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s received bits to the signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_pixels(payload: bytes):
    """Baseline-sequential (SOF0), progressive (SOF2: spectral
    selection + successive approximation, T.81 Annex G), lossless
    (SOF3: predictive, T.81 Annex H), or arithmetic-coded sequential
    (SOF9, T.81 Annex D QM-coder + F.2.2 —
    :mod:`mr_python_spark.multimodal.jpeg_arith`) JPEG → (width,
    height, channels, raster) or None for anything malformed or out
    of scope (progressive-arithmetic/hierarchical/extended processes,
    12-bit, >3 components, sampling factors > 2, subsampled or
    restart-marked or multi-scan lossless, restart-marked
    arithmetic)."""
    import numpy as np

    if payload[:2] != b"\xff\xd8" or len(payload) < 20:
        return None
    try:
        qt: dict[int, "np.ndarray"] = {}
        huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
        dac: dict[tuple[int, int], int] = {}  # (class, id) -> conditioning
        frame = None
        restart_interval = 0
        coef = None  # progressive: comp id -> (by, bx, 64) zigzag store
        pos = 2
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if marker == 0xD9:  # EOI
                if frame is not None and frame.get("prog") and coef:
                    return _reconstruct_progressive(frame, coef, qt, np)
                return None  # baseline: EOI before SOS
            if pos + 4 > len(payload):
                return None
            (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
            seg = payload[pos + 4 : pos + 2 + seg_len]
            if len(seg) != seg_len - 2:
                return None
            if marker == 0xDB:  # DQT: possibly several tables
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 0x0F
                    i += 1
                    n = 64 * (2 if pq == 1 else 1)
                    if pq > 1 or tq > 3 or i + n > len(seg):
                        return None
                    raw = (
                        np.frombuffer(seg[i : i + n], dtype=">u2")
                        if pq
                        else np.frombuffer(seg[i : i + n], dtype=np.uint8)
                    ).astype(np.int32)
                    tbl = np.zeros(64, dtype=np.int32)
                    tbl[ZIGZAG] = raw  # zigzag -> natural order
                    qt[tq] = tbl.reshape(8, 8)
                    i += n
            elif marker == 0xC4:  # DHT: possibly several tables
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 0x0F
                    bits = list(seg[i + 1 : i + 17])
                    nsym = sum(bits)
                    if tc > 1 or th > 3 or i + 17 + nsym > len(seg):
                        return None
                    huffval = list(seg[i + 17 : i + 17 + nsym])
                    huff[(tc, th)] = _build_huffman_decode(bits, huffval)
                    i += 17 + nsym
                if i != len(seg):
                    return None
            elif marker in (0xC0, 0xC2, 0xC3, 0xC9):  # SOF0/2/3/9
                prec, h, w, nf = struct.unpack_from(">BHHB", seg, 0)
                if prec != 8 or nf not in (1, 3) or w == 0 or h == 0:
                    return None
                if w * h > MAX_PIXELS:
                    return None
                comps = []
                for c in range(nf):
                    cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                    hi, vi = hv >> 4, hv & 0x0F
                    if not (1 <= hi <= 2 and 1 <= vi <= 2):
                        return None
                    if marker == 0xC3 and (hi != 1 or vi != 1):
                        return None  # subsampled lossless: out of scope
                    comps.append({"id": cid, "h": hi, "v": vi, "tq": tq})
                frame = {
                    "w": w,
                    "h": h,
                    "comps": comps,
                    "prog": marker == 0xC2,
                    "lossless": marker == 0xC3,
                    "arith": marker == 0xC9,
                }
                if frame["prog"]:
                    hmax = max(c["h"] for c in comps)
                    vmax = max(c["v"] for c in comps)
                    mcux = -(-w // (8 * hmax))
                    mcuy = -(-h // (8 * vmax))
                    frame["mcux"], frame["mcuy"] = mcux, mcuy
                    coef = {
                        c["id"]: np.zeros(
                            (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32
                        )
                        for c in comps
                    }
            elif marker in (0xC1, 0xC5, 0xC6, 0xC7, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                # extended-Huffman / progressive-arithmetic /
                # hierarchical processes: out of scope
                return None
            elif marker == 0xCC:  # DAC: arithmetic conditioning
                i = 0
                while i + 2 <= len(seg):
                    tc, tb = seg[i] >> 4, seg[i] & 0x0F
                    if tc > 1 or tb > 3:
                        return None
                    dac[(tc, tb)] = seg[i + 1]
                    i += 2
                if i != len(seg):
                    return None
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack_from(">H", seg, 0)
            elif marker == 0xDA:  # SOS: entropy-coded data follows
                if frame is None:
                    return None
                ns = seg[0]
                scan = {}
                order = []
                for c in range(ns):
                    cs, td_ta = struct.unpack_from(">BB", seg, 1 + 2 * c)
                    scan[cs] = (td_ta >> 4, td_ta & 0x0F)
                    order.append(cs)
                if frame.get("lossless"):
                    if ns != len(frame["comps"]) or restart_interval:
                        # multi-scan or restart-marked lossless: out of
                        # scope (one interleaved scan is the shape the
                        # encoder emits and DNG-class files use)
                        return None
                    ss, _se, ah_al = struct.unpack_from(">BBB", seg, 1 + 2 * ns)
                    return _decode_lossless_scan(
                        payload, pos + 2 + seg_len, frame, order, scan,
                        ss, ah_al & 0x0F, huff, np,
                    )
                if frame.get("arith"):
                    if ns != len(frame["comps"]):
                        return None
                    from mr_python_spark.multimodal.jpeg_arith import (
                        decode_arith_scan,
                    )

                    return decode_arith_scan(
                        payload, pos + 2 + seg_len, frame, scan, qt, dac,
                        restart_interval, np,
                    )
                if not frame["prog"]:
                    if ns != len(frame["comps"]):
                        return None
                    return _decode_scan(
                        payload, pos + 2 + seg_len, frame, scan, qt, huff,
                        restart_interval, np,
                    )
                ss, se, ah_al = struct.unpack_from(
                    ">BBB", seg, 1 + 2 * ns
                )
                ah, al = ah_al >> 4, ah_al & 0x0F
                pos = _decode_progressive_scan(
                    payload, pos + 2 + seg_len, frame, order, scan,
                    ss, se, ah, al, huff, restart_interval, coef, np,
                )
                if pos is None:
                    return None
                continue
            pos += 2 + seg_len
        return None
    except (struct.error, IndexError, KeyError, ValueError):
        return None


def _decode_scan(payload, pos, frame, scan, qt, huff, restart_interval, np):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    T = _dct_matrix()
    planes = []
    for c in comps:
        if c["tq"] not in qt:
            return None
        td, ta = scan.get(c["id"], (None, None))
        if td is None or (0, td) not in huff or (1, ta) not in huff:
            return None
        c["dc_tab"], c["ac_tab"] = huff[(0, td)], huff[(1, ta)]
        c["q"] = qt[c["tq"]].astype(np.float64)
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        )
    br = _BitReader(payload, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if not br.restart():
                    return None
                pred = [0] * len(comps)
            mcu_count += 1
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64, dtype=np.float64)
                        s = _decode_huff_symbol(br, c["dc_tab"])
                        if s is None or s > 11:
                            return None
                        if s:
                            bitsv = br.read_bits(s)
                            if bitsv is None:
                                return None
                            pred[ci] += _extend(bitsv, s)
                        coef[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _decode_huff_symbol(br, c["ac_tab"])
                            if rs is None:
                                return None
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:  # ZRL: skip 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                return None
                            bitsv = br.read_bits(size)
                            if bitsv is None:
                                return None
                            coef[ZIGZAG[k]] = _extend(bitsv, size)
                            k += 1
                        block = coef.reshape(8, 8) * c["q"]
                        pix = T.T @ block @ T + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
    return _planes_to_raster(frame, planes, comps, hmax, vmax, np)


def _planes_to_raster(frame, planes, comps, hmax, vmax, np):
    """Upsample component planes to full resolution (nearest), crop,
    and apply the JFIF YCbCr->RGB transform — the shared tail of the
    Huffman and arithmetic sequential scan decoders."""
    w, h = frame["w"], frame["h"]
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        raster = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return (w, h, 1, raster.tobytes())
    Y, Cb, Cr = full
    r = Y + 1.402 * (Cr - 128.0)
    g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
    b = Y + 1.772 * (Cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    raster = np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    return (w, h, 3, raster.tobytes())


def _decode_lossless_scan(payload, pos, frame, order, scan, sel, pt, huff, np):
    """Lossless (SOF3, T.81 Annex H) single interleaved scan: each
    sample is a Huffman-coded category + extend bits giving the
    difference from a neighbor prediction (``sel`` picks among the 7
    predictors; ``pt`` is the point transform).  Components have no
    defined color transform in the lossless process — DNG-class files
    carry them as-is — so the raster is returned untransformed
    (component order = scan order; 3 components are typically RGB).

    Prediction per H.1.2.1: the first sample uses the default
    ``1 << (P - pt - 1)``, the rest of the first line the left
    neighbor, the first column the above neighbor, everything else the
    selected predictor (integer arithmetic, arithmetic shifts); sums
    are modulo 2**16.  Samples are shifted left by ``pt`` on output.
    """
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if not (1 <= sel <= 7) or pt > 7:
        return None
    tabs = []
    for cid in order:
        td = scan.get(cid, (None, None))[0]
        if td is None or (0, td) not in huff:
            return None
        tabs.append(huff[(0, td)])
    default = 1 << (8 - pt - 1)
    planes = [np.zeros((h, w), dtype=np.int32) for _ in comps]
    br = _BitReader(payload, pos)
    for y in range(h):
        for x in range(w):
            for ci in range(len(comps)):
                p = planes[ci]
                if y == 0:
                    px = default if x == 0 else int(p[0, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    a = int(p[y, x - 1])
                    b = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    if sel == 1:
                        px = a
                    elif sel == 2:
                        px = b
                    elif sel == 3:
                        px = c
                    elif sel == 4:
                        px = a + b - c
                    elif sel == 5:
                        px = a + ((b - c) >> 1)
                    elif sel == 6:
                        px = b + ((a - c) >> 1)
                    else:
                        px = (a + b) >> 1
                s = _decode_huff_symbol(br, tabs[ci])
                if s is None or s > 16:
                    return None
                if s == 0:
                    diff = 0
                elif s == 16:
                    diff = 32768
                else:
                    bitsv = br.read_bits(s)
                    if bitsv is None:
                        return None
                    diff = _extend(bitsv, s)
                p[y, x] = (px + diff) & 0xFFFF
    raster = np.stack(
        [(p << pt) & 0xFF for p in planes], axis=-1
    ).astype(np.uint8)
    return (w, h, len(comps), raster.tobytes())


def _decode_progressive_scan(
    payload, pos, frame, order, scan, ss, se, ah, al,
    huff, restart_interval, coef, np,
):
    """One progressive scan (T.81 Annex G.2) into the zigzag
    coefficient store; returns the payload position of the marker that
    ended the scan, or None on malformed data.

    DC scans (ss == 0) may be interleaved (MCU order, all frame
    components) or single-component; AC scans (ss >= 1) are always
    single-component, traversed in the component's own block raster.
    ``ah == 0`` is a first pass (huffman magnitudes, values << al);
    ``ah > 0`` is a successive-approximation refinement (one
    correction bit per already-nonzero coefficient, new coefficients
    appear as ±1 << al).  EOB runs (s == 0, r < 15) span blocks; DRI
    restart boundaries reset DC predictors AND the pending EOB run.
    """
    comps = frame["comps"]
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux, mcuy = frame["mcux"], frame["mcuy"]
    br = _BitReader(payload, pos)

    if ss == 0:  # ---- DC scan ----
        if se != 0:
            return None
        dc_tab = {}
        for cid in order:
            td, _ = scan[cid]
            if ah == 0 and (0, td) not in huff:
                return None
            dc_tab[cid] = huff.get((0, td))
        pred = dict.fromkeys(order, 0)
        # unit list: (cid, by, bx) per MCU in scan order
        if len(order) > 1:  # interleaved MCU traversal
            units_per_mcu = [
                (cid, by, bx)
                for cid in order
                for by in range(by_id[cid]["v"])
                for bx in range(by_id[cid]["h"])
            ]
            n_mcu = mcux * mcuy
        else:
            cid = order[0]
            c = by_id[cid]
            n_mcu = (-(-frame["w"] * c["h"] // (8 * hmax))) * (
                -(-frame["h"] * c["v"] // (8 * vmax))
            )
        mcu_count = 0
        for m in range(n_mcu):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if not br.restart():
                    return None
                pred = dict.fromkeys(order, 0)
            mcu_count += 1
            if len(order) > 1:
                my, mx = divmod(m, mcux)
                blocks = [
                    (cid, my * by_id[cid]["v"] + by, mx * by_id[cid]["h"] + bx)
                    for cid, by, bx in units_per_mcu
                ]
            else:
                c = by_id[order[0]]
                bw_ = -(-frame["w"] * c["h"] // (8 * hmax))
                blocks = [(order[0], m // bw_, m % bw_)]
            for cid, by, bx in blocks:
                if ah == 0:
                    s = _decode_huff_symbol(br, dc_tab[cid])
                    if s is None or s > 11:
                        return None
                    diff = 0
                    if s:
                        v = br.read_bits(s)
                        if v is None:
                            return None
                        diff = _extend(v, s)
                    pred[cid] += diff
                    coef[cid][by, bx, 0] = pred[cid] << al
                else:
                    b = br.read_bit()
                    if b is None:
                        return None
                    if b:
                        coef[cid][by, bx, 0] = int(coef[cid][by, bx, 0]) | (
                            1 << al
                        )
    else:  # ---- AC scan: single component, band ss..se ----
        if len(order) != 1 or se > 63 or ss > se:
            return None
        cid = order[0]
        c = by_id[cid]
        _, ta = scan[cid]
        if (1, ta) not in huff:
            return None
        ac_tab = huff[(1, ta)]
        store = coef[cid]
        bw_ = -(-frame["w"] * c["h"] // (8 * hmax))
        bh_ = -(-frame["h"] * c["v"] // (8 * vmax))
        eobrun = 0
        p1, m1 = 1 << al, -1 << al
        mcu_count = 0
        for m in range(bw_ * bh_):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if not br.restart():
                    return None
                eobrun = 0
            mcu_count += 1
            blk = store[m // bw_, m % bw_]
            if ah == 0:  # first pass
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _decode_huff_symbol(br, ac_tab)
                    if rs is None:
                        return None
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            v = br.read_bits(r)
                            if v is None:
                                return None
                            eobrun += v
                        break
                    k += r
                    if k > se:
                        return None
                    v = br.read_bits(s)
                    if v is None:
                        return None
                    blk[k] = _extend(v, s) << al
                    k += 1
            else:  # refinement pass (libjpeg decode_mcu_AC_refine shape)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _decode_huff_symbol(br, ac_tab)
                        if rs is None:
                            return None
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    v = br.read_bits(r)
                                    if v is None:
                                        return None
                                    eobrun += v
                                break
                            # r == 15: ZRL — skip 16 zero-history slots
                            newval = 0
                        else:
                            if s != 1:
                                return None
                            b = br.read_bit()
                            if b is None:
                                return None
                            newval = p1 if b else m1
                        while k <= se:
                            cur = int(blk[k])
                            if cur != 0:
                                b = br.read_bit()
                                if b is None:
                                    return None
                                if b and (cur & p1) == 0:
                                    blk[k] = cur + (p1 if cur >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newval and k <= se:
                            blk[k] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        cur = int(blk[k])
                        if cur != 0:
                            b = br.read_bit()
                            if b is None:
                                return None
                            if b and (cur & p1) == 0:
                                blk[k] = cur + (p1 if cur >= 0 else m1)
                        k += 1
                    eobrun -= 1

    # scan ends at the next real marker: drain pad bits, return the
    # marker position (br.pos sits ON the 0xFF once _fill saw it)
    br.acc, br.nbits = 0, 0
    if br.marker is None:
        br._fill()
    if br.marker is None:
        return None
    if 0xD0 <= br.marker <= 0xD7:  # trailing restart before next marker
        br.marker = None
        br._fill()
        if br.marker is None:
            return None
    return br.pos


def _reconstruct_progressive(frame, coef, qt, np):
    """Dequantize + IDCT + upsample the accumulated progressive
    coefficient store — the identical float tail to the baseline
    path (orthonormal DCT matrix, nearest upsample, BT.601)."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    T = _dct_matrix()
    full = []
    for c in comps:
        if c["tq"] not in qt:
            return None
        q = qt[c["tq"]].astype(np.float64)
        store = coef[c["id"]]
        by_n, bx_n = store.shape[0], store.shape[1]
        plane = np.zeros((by_n * 8, bx_n * 8), dtype=np.float64)
        nat = np.zeros(64, dtype=np.float64)
        for by in range(by_n):
            for bx in range(bx_n):
                nat[ZIGZAG] = store[by, bx]
                block = nat.reshape(8, 8) * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    T.T @ block @ T + 128.0
                )
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        full.append(plane[:h, :w])
    if len(comps) == 1:
        raster = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return (w, h, 1, raster.tobytes())
    Y, Cb, Cr = full
    r = Y + 1.402 * (Cr - 128.0)
    g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
    b = Y + 1.772 * (Cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    raster = np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    return (w, h, 3, raster.tobytes())


# --- encoder (fixtures/tests) ------------------------------------------


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
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _synth_rgb(w: int, h: int, rgb, seed: int, np):
    """Deterministic seeded gradient raster, or the caller's bytes."""
    if rgb is None:
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [
                (xx * 3 + yy * 5 + seed * 11) % 256,
                (xx * 7 + yy * 2 + seed * 23) % 256,
                (xx + yy * 13 + seed * 31) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
    return np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)


def _raster_planes(w: int, h: int, rgb, seed: int, np):
    """Shared raster synthesis + BT.601 split for the lossy encoders."""
    img = _synth_rgb(w, h, rgb, seed, np).astype(np.float64)
    R, G, B = img[..., 0], img[..., 1], img[..., 2]
    Y = 0.299 * R + 0.587 * G + 0.114 * B
    Cb = -0.168736 * R - 0.331264 * G + 0.5 * B + 128.0
    Cr = 0.5 * R - 0.418688 * G - 0.081312 * B + 128.0
    return [Y, Cb, Cr]


def _quantized_zigzag(comps, w: int, h: int, np):
    """Per-component quantized coefficient grids in ZIGZAG order —
    (by, bx, 64) int64 arrays, identical math for the baseline and
    progressive encoders (so their decoded pixels must be identical
    bit-for-bit)."""
    qt_nat = []
    for zz in (QT_LUMA, QT_CHROMA):
        t = np.zeros(64, dtype=np.float64)
        t[ZIGZAG] = np.array(zz, dtype=np.float64)
        qt_nat.append(t.reshape(8, 8))
    T = _dct_matrix()
    by_count = -(-h // 8)
    bx_count = -(-w // 8)
    out = []
    for ci, plane in enumerate(comps):
        ti = 0 if ci == 0 else 1
        p = np.pad(
            plane,
            ((0, by_count * 8 - h), (0, bx_count * 8 - w)),
            mode="edge",
        )
        grid = np.zeros((by_count, bx_count, 64), dtype=np.int64)
        for by in range(by_count):
            for bx in range(bx_count):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coefb = T @ block @ T.T
                q = np.rint(coefb / qt_nat[ti]).astype(np.int64)
                grid[by, bx] = q.reshape(-1)[ZIGZAG]
        out.append(grid)
    return out


def segment(marker: int, body: bytes) -> bytes:
    """One marker segment: ``FF marker``, the big-endian length (which
    counts itself), then ``body``."""
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _quant_and_frame(w: int, h: int, sof_marker: int) -> bytes:
    """DQT + SOF segments of a 3-component 4:4:4 frame."""
    dqt = segment(0xDB, b"\x00" + bytes(QT_LUMA)) + segment(0xDB, b"\x01" + bytes(QT_CHROMA))
    return dqt + segment(
        sof_marker,
        struct.pack(">BHHB", 8, h, w, 3)
        + struct.pack(">BBB", 1, 0x11, 0)
        + struct.pack(">BBB", 2, 0x11, 1)
        + struct.pack(">BBB", 3, 0x11, 1),
    )


def _frame_segments(w: int, h: int, sof_marker: int) -> bytes:
    """DQT + SOF + DHT segments shared by the two encoders."""

    def dht(tc: int, th: int, table) -> bytes:
        bits, huffval = table
        return segment(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(huffval))

    dhts = (
        dht(0, 0, HT_DC_LUMA)
        + dht(1, 0, HT_AC_LUMA)
        + dht(0, 1, HT_DC_CHROMA)
        + dht(1, 1, HT_AC_CHROMA)
    )
    return _quant_and_frame(w, h, sof_marker) + dhts


def _frame_segments_arith(w: int, h: int) -> bytes:
    """DQT + SOF9 + DAC segments for the arithmetic sequential encoder:
    no Huffman tables; the DAC carries the default conditioning
    explicitly (DC tables 0/1: Cs = (U=1)<<4 | (L=0); AC tables 0/1:
    Cs = Kx = 5) so decoders exercise the marker, not the default."""
    dac = segment(0xCC, bytes([0x00, 0x10, 0x01, 0x10, 0x10, 5, 0x11, 5]))
    return _quant_and_frame(w, h, 0xC9) + dac


def encode_jpeg(
    w: int,
    h: int,
    rgb: "bytes | None" = None,
    seed: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Baseline 4:4:4 JPEG of a (w, h) RGB raster (row-major bytes); a
    deterministic seeded gradient raster is synthesized when ``rgb`` is
    None.  Annex K tables, no subsampling; ``restart_interval`` > 0
    emits a DRI segment and byte-aligned RSTn markers every that many
    MCUs (DC predictors reset), exercising the decoder's restart
    path."""
    import numpy as np

    grids = _quantized_zigzag(_raster_planes(w, h, rgb, seed, np), w, h, np)
    enc = [
        (_build_huffman_encode(*HT_DC_LUMA), _build_huffman_encode(*HT_AC_LUMA)),
        (_build_huffman_encode(*HT_DC_CHROMA), _build_huffman_encode(*HT_AC_CHROMA)),
    ]

    bw = _BitWriter()
    pred = [0, 0, 0]
    by_count = -(-h // 8)
    bx_count = -(-w // 8)
    mcu_idx = 0
    rst_idx = 0
    for by in range(by_count):
        for bx in range(bx_count):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                # byte-align with 1-padding, emit RSTn raw (markers are
                # never stuffed), reset DC predictors — T.81 E.1.4
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst_idx % 8)])
                rst_idx += 1
                pred = [0, 0, 0]
            mcu_idx += 1
            for ci in range(3):
                ti = 0 if ci == 0 else 1
                dc_t, ac_t = enc[ti]
                zz = grids[ci][by, bx]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                s = _category(diff)
                code, length = dc_t[s]
                bw.write(code, length)
                if s:
                    v = diff if diff >= 0 else diff + (1 << s) - 1
                    bw.write(v, s)
                run = 0
                last_nz = 0
                for k in range(1, 64):
                    if zz[k]:
                        last_nz = k
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_t[0xF0]  # ZRL
                        bw.write(code, length)
                        run -= 16
                    s = _category(v)
                    code, length = ac_t[(run << 4) | s]
                    bw.write(code, length)
                    bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if last_nz < 63:
                    code, length = ac_t[0x00]  # EOB
                    bw.write(code, length)
    bw.flush()

    sos = segment(
        0xDA,
        b"\x03" + struct.pack(">BB", 1, 0x00) + struct.pack(">BB", 2, 0x11)
        + struct.pack(">BB", 3, 0x11) + b"\x00\x3f\x00",
    )
    dri = (
        segment(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8" + _frame_segments(w, h, 0xC0) + dri + sos
        + bytes(bw.out) + b"\xff\xd9"
    )


#: spectral-selection bands of the progressive encoder's AC scans
PROG_AC_BANDS = ((1, 5), (6, 63))


def encode_jpeg_progressive(
    w: int, h: int, rgb: "bytes | None" = None, seed: int = 0
) -> bytes:
    """Progressive (SOF2) 4:4:4 JPEG by SPECTRAL SELECTION: one
    interleaved DC scan, then per component one AC scan per
    ``PROG_AC_BANDS`` band (Ah = Al = 0 — pure spectral selection, no
    successive approximation).  The quantized coefficients are
    IDENTICAL to :func:`encode_jpeg`'s (same ``_quantized_zigzag``
    grids, same Annex K tables), so a correct decoder must reconstruct
    bit-identical pixels from both encodings — the roundtrip pin in
    tests/test_capability_queries.py.  Within an AC band, coefficients
    code exactly as baseline AC (runs, ZRL, and a per-block EOB0 —
    an EOB run of one block, T.81 G.1.2.2), so the entropy tables are
    shared too.
    """
    import numpy as np

    grids = _quantized_zigzag(_raster_planes(w, h, rgb, seed, np), w, h, np)
    enc = [
        (_build_huffman_encode(*HT_DC_LUMA), _build_huffman_encode(*HT_AC_LUMA)),
        (_build_huffman_encode(*HT_DC_CHROMA), _build_huffman_encode(*HT_AC_CHROMA)),
    ]
    by_count = -(-h // 8)
    bx_count = -(-w // 8)

    out = bytearray(b"\xff\xd8" + _frame_segments(w, h, 0xC2))

    # ---- scan 1: interleaved DC, all three components ----
    bw = _BitWriter()
    pred = [0, 0, 0]
    for by in range(by_count):
        for bx in range(bx_count):
            for ci in range(3):
                dc_t = enc[0 if ci == 0 else 1][0]
                v0 = int(grids[ci][by, bx][0])
                diff = v0 - pred[ci]
                pred[ci] = v0
                s = _category(diff)
                code, length = dc_t[s]
                bw.write(code, length)
                if s:
                    bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    bw.flush()
    out += segment(
        0xDA,
        b"\x03"
        + struct.pack(">BB", 1, 0x00)
        + struct.pack(">BB", 2, 0x10)
        + struct.pack(">BB", 3, 0x10)
        + b"\x00\x00\x00",  # Ss=0 Se=0 AhAl=0
    )
    out += bytes(bw.out)

    # ---- AC scans: one component per scan, one per spectral band ----
    for ci in range(3):
        ti = 0 if ci == 0 else 1
        ac_t = enc[ti][1]
        for ss, se in PROG_AC_BANDS:
            bw = _BitWriter()
            for by in range(by_count):
                for bx in range(bx_count):
                    zz = grids[ci][by, bx]
                    last_nz = 0
                    for k in range(ss, se + 1):
                        if zz[k]:
                            last_nz = k
                    if last_nz == 0:
                        code, length = ac_t[0x00]  # EOB0: run of 1 block
                        bw.write(code, length)
                        continue
                    run = 0
                    for k in range(ss, last_nz + 1):
                        v = int(zz[k])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            code, length = ac_t[0xF0]  # ZRL
                            bw.write(code, length)
                            run -= 16
                        s = _category(v)
                        code, length = ac_t[(run << 4) | s]
                        bw.write(code, length)
                        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                        run = 0
                    if last_nz < se:
                        code, length = ac_t[0x00]
                        bw.write(code, length)
            bw.flush()
            out += segment(
                0xDA,
                b"\x01"
                + struct.pack(">BB", ci + 1, ti)  # Td unused, Ta = ti
                + bytes([ss, se, 0x00]),
            )
            out += bytes(bw.out)

    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_lossless(
    w: int,
    h: int,
    rgb: "bytes | None" = None,
    seed: int = 0,
    predictor: int = 1,
    pt: int = 0,
    grayscale: bool = False,
) -> bytes:
    """Lossless (SOF3) JPEG of a (w, h) raster: one interleaved scan,
    Annex K DC-luma Huffman table for every component's differences
    (8-bit samples under any of the 7 predictors keep |diff| ≤ 510 →
    category ≤ 10, inside the table's 0–11 range).  Components are the
    raw R/G/B planes (the lossless process defines no color
    transform), so ``decode_jpeg_pixels`` roundtrips BIT-EXACTLY at
    ``pt=0`` — the property the lossy encoders cannot offer and the
    test gate asserts.  ``pt`` > 0 encodes ``sample >> pt`` (decoder
    shifts back up, zeroing the low bits).
    """
    import numpy as np

    img = _synth_rgb(w, h, rgb, seed, np).astype(np.int32)
    planes = [img[..., 0]] if grayscale else [img[..., i] for i in range(3)]
    if pt:
        planes = [p >> pt for p in planes]
    dc_t = _build_huffman_encode(*HT_DC_LUMA)
    default = 1 << (8 - pt - 1)

    bw = _BitWriter()
    for y in range(h):
        for x in range(w):
            for p in planes:
                if y == 0:
                    px = default if x == 0 else int(p[0, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    a = int(p[y, x - 1])
                    b = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    px = {
                        1: a,
                        2: b,
                        3: c,
                        4: a + b - c,
                        5: a + ((b - c) >> 1),
                        6: b + ((a - c) >> 1),
                        7: (a + b) >> 1,
                    }[predictor]
                diff = (int(p[y, x]) - px) % 65536
                if diff >= 32768:
                    diff -= 65536  # mod-2^16 signed residue
                s = _category(diff)
                code, length = dc_t[s]
                bw.write(code, length)
                if s:
                    bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    bw.flush()

    nf = len(planes)
    sof = segment(
        0xC3,
        struct.pack(">BHHB", 8, h, w, nf)
        + b"".join(struct.pack(">BBB", i + 1, 0x11, 0) for i in range(nf)),
    )
    bits, huffval = HT_DC_LUMA
    dht = segment(0xC4, bytes([0x00]) + bytes(bits) + bytes(huffval))
    sos = segment(
        0xDA,
        bytes([nf])
        + b"".join(struct.pack(">BB", i + 1, 0x00) for i in range(nf))
        + struct.pack(">BBB", predictor, 0, pt),
    )
    return b"\xff\xd8" + sof + dht + sos + bytes(bw.out) + b"\xff\xd9"
