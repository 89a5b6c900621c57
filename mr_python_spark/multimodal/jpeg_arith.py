"""Arithmetic-coded sequential JPEG (ITU-T T.81 Annex D + F.1.4/F.2.2).

Closes the last library-gated decode gap named by the round-15 audit:
SOF9 (extended sequential DCT, arithmetic entropy coding) now really
decodes — the QM-coder state machine, the DC/AC statistical models
with their conditioning contexts, and the DAC marker are all parsed
from the public spec, with the byte-stuffing convention the decoder
shares with every conformant JPEG stream (0xFF data bytes are
followed by a stuffed 0x00; a 0xFF followed by anything else is a
marker and the decoder feeds zero bytes from there on).

Two deliberately DIFFERENT implementations face each other:

* :class:`_QMDecoder` is the classic windowed-register decoder
  (16-bit interval register ``a`` kept in [0x8000, 0x10000) between
  decisions, code bytes streamed into a low-aligned register —
  the structure used by every production decoder).
* :class:`_QMEncoder` tracks the code point ``c`` as an UNBOUNDED
  integer instead of juggling BYTEOUT carry/0xFF stacks: every
  renormalization appends one bit, carries propagate by plain
  addition, and :meth:`_QMEncoder.flush` picks the shortest code
  value inside the final interval [c, c+a).  This is algebraically
  the same coder — the interval arithmetic per decision is identical
  — but shares none of the register plumbing, so the
  encode→decode roundtrip tests cross-check two independent
  realizations of Annex D rather than one implementation against
  itself.

The probability estimation table (Table D.3: Qe, NMPS, NLPS, SWITCH)
drives both sides; a mis-keyed row would only slow adaptation, never
break the roundtrip, because encoder and decoder walk the same chain.
Index 113 is the non-adaptive ~0.5 "fixed" state used for AC sign
decisions (F.1.4.4.1.2 codes AC signs with no conditioning).

Scope: sequential DCT only (SOF9), 8-bit, 1 or 3 components,
sampling factors <= 2, no restart markers (DRI + arithmetic returns
None, the same out-of-scope contract as the restart-marked lossless
path).  Progressive arithmetic (SOF10) and the hierarchical
processes remain gated.

Reference parity note: tinymr (the reference engine) has no
multimodal surface; this belongs to the training-data-pipeline
extension tier (SURVEY.md §6) where decode must be a real parse.
"""

from __future__ import annotations

import struct

#: Table D.3 — Qe value and probability-estimation state machine:
#: (Qe, next-index after MPS, next-index after LPS, switch MPS on LPS).
#: Row 113 is libjpeg's extra non-adaptive ~0.5 state for sign
#: decisions: it self-loops and never switches.
QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

#: index of the non-adaptive sign state
FIXED_STATE = 113

#: statistics-area sizes (T.81 F.1.4.4): DC = 5 conditioning classes
#: x 4 bins + 15 magnitude-category bins + 14 magnitude-bit bins;
#: AC = 3 bins per spectral index k=1..63 + two 28-bin (14 category +
#: 14 bit) chains, one for k <= Kx and one for k > Kx.
DC_STAT_BINS = 49
AC_STAT_BINS = 245
_AC_X_LO = 189  # X2 chain for k <= Kx
_AC_X_HI = 217  # X2 chain for k > Kx


class _Corrupt(Exception):
    """Internal: malformed arithmetic entropy data (maps to None)."""


def _new_stats(n: int) -> bytearray:
    """Fresh statistics area: every bin at table index 0, MPS = 0.
    A bin is one byte: (mps << 7) | table_index."""
    return bytearray(n)


class _QMDecoder:
    """Windowed-register QM decoder over a JPEG entropy-coded segment.

    Byte input follows the entropy-segment convention: 0xFF 0x00 is a
    stuffed literal 0xFF; 0xFF followed by anything else is a marker —
    decoding continues with zero bytes (T.81 permits the code register
    to drain past the marker).
    """

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.ended = False
        b0 = self._byte()
        b1 = self._byte()
        self.c = (b0 << 8) | b1
        self.a = 0x10000
        self.ct = 0

    def _byte(self) -> int:
        if self.ended or self.pos >= len(self.data):
            return 0
        b = self.data[self.pos]
        if b != 0xFF:
            self.pos += 1
            return b
        nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
        if nxt == 0x00:  # stuffed literal 0xFF
            self.pos += 2
            return 0xFF
        self.ended = True  # marker: zero-feed from here on
        return 0

    def decode(self, stats: bytearray, st: int) -> int:
        a, c, ct = self.a, self.c, self.ct
        while a < 0x8000:
            if ct == 0:
                c = (c << 8) | self._byte()
                ct = 8
            a <<= 1
            ct -= 1
        sv = stats[st]
        mps = sv >> 7
        qe, nmps, nlps, sw = QM_TABLE[sv & 0x7F]
        a -= qe
        boundary = a << ct
        if c >= boundary:
            # upper subinterval: LPS normally, MPS under cond. exchange
            c -= boundary
            if a < qe:
                d = mps
                stats[st] = (mps << 7) | nmps
            else:
                d = mps ^ 1
                if sw:
                    mps ^= 1
                stats[st] = (mps << 7) | nlps
            a = qe
        elif a < 0x8000:
            # lower subinterval, renorm pending -> adaptation fires
            if a < qe:
                d = mps ^ 1
                if sw:
                    mps ^= 1
                stats[st] = (mps << 7) | nlps
            else:
                d = mps
                stats[st] = (mps << 7) | nmps
        else:
            d = mps  # lower subinterval, no renorm: no adaptation
        self.a, self.c, self.ct = a, c, ct
        return d


class _QMEncoder:
    """QM encoder with an unbounded-integer code point (see module
    docstring): interval arithmetic identical to Annex D, BYTEOUT
    replaced by exact big-int accumulation + one final packing pass."""

    def __init__(self):
        self.a = 0x10000
        self.c = 0
        self.shifts = 0

    def encode(self, stats: bytearray, st: int, d: int) -> None:
        sv = stats[st]
        mps = sv >> 7
        qe, nmps, nlps, sw = QM_TABLE[sv & 0x7F]
        a = self.a - qe
        if d == mps:
            if a >= 0x8000:
                self.a = a
                return  # no renorm -> no adaptation
            if a < qe:  # conditional exchange: MPS takes the top
                self.c += a
                a = qe
            stats[st] = (mps << 7) | nmps
        else:
            if a >= qe:  # normal LPS: top subinterval
                self.c += a
                a = qe
            # else conditional exchange: LPS keeps the bottom (width a)
            if sw:
                mps ^= 1
            stats[st] = (mps << 7) | nlps
        while a < 0x8000:
            a <<= 1
            self.c <<= 1
            self.shifts += 1
        self.a = a

    def flush(self) -> bytes:
        """Choose the code value with the most trailing zeros inside
        the final interval [c, c+a), emit its 16+shifts bits MSB-first
        with 0x00 byte-stuffing after every 0xFF, and drop trailing
        zero bytes (the decoder zero-feeds past the next marker)."""
        width = 16 + self.shifts
        v = self.c + self.a - 1
        z = 0
        while z < width and (v >> (z + 1)) << (z + 1) >= self.c:
            z += 1
        v = (v >> z) << z
        out = bytearray()
        nbytes = (width + 7) // 8
        v <<= nbytes * 8 - width  # left-align into whole bytes
        raw = v.to_bytes(nbytes, "big")
        end = len(raw)
        while end > 0 and raw[end - 1] == 0x00:
            end -= 1
        for b in raw[:end]:
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


# --- DC / AC statistical models (T.81 F.1.4.4, jdarith structure) ------


def _decode_dc_diff(dec, stats, ctx, cond):
    """One DC difference: returns (diff, next conditioning context)."""
    low, up = cond  # (L, U) conditioning bounds
    st = ctx
    if dec.decode(stats, st) == 0:
        return 0, 0
    sign = dec.decode(stats, st + 1)
    st = st + 2 + sign
    m = dec.decode(stats, st)
    if m:
        st = 20
        while dec.decode(stats, st):
            m <<= 1
            if m == 0x8000:
                raise _Corrupt
            st += 1
    if m < (1 << low) >> 1:
        nctx = 0
    elif m > (1 << up) >> 1:
        nctx = 12 + 4 * sign
    else:
        nctx = 4 + 4 * sign
    v = m
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        if dec.decode(stats, st):
            v |= mm
    v += 1
    return (-v if sign else v), nctx


def _encode_dc_diff(enc, stats, ctx, cond, diff):
    """Mirror of :func:`_decode_dc_diff`; returns next context."""
    low, up = cond
    st = ctx
    if diff == 0:
        enc.encode(stats, st, 0)
        return 0
    enc.encode(stats, st, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(stats, st + 1, sign)
    st = st + 2 + sign
    sz = (-diff if sign else diff) - 1
    if sz == 0:
        enc.encode(stats, st, 0)
        m = 0
    else:
        enc.encode(stats, st, 1)
        m = 1
        st = 20
        while (m << 1) <= sz:
            enc.encode(stats, st, 1)
            m <<= 1
            st += 1
        enc.encode(stats, st, 0)
    if m < (1 << low) >> 1:
        nctx = 0
    elif m > (1 << up) >> 1:
        nctx = 12 + 4 * sign
    else:
        nctx = 4 + 4 * sign
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        enc.encode(stats, st, 1 if sz & mm else 0)
    return nctx


def _decode_ac_coefs(dec, stats, fixed, kx, zz, zigzag):
    """Decode AC coefficients k=1..63 into natural-order array zz."""
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return  # EOB
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise _Corrupt
        sign = dec.decode(fixed, 0)
        st += 2
        m = dec.decode(stats, st)
        if m:
            if dec.decode(stats, st):
                m = 2
                st = _AC_X_LO if k <= kx else _AC_X_HI
                while dec.decode(stats, st):
                    m <<= 1
                    if m == 0x8000:
                        raise _Corrupt
                    st += 1
        v = m
        st += 14
        mm = m
        while mm > 1:
            mm >>= 1
            if dec.decode(stats, st):
                v |= mm
        v += 1
        zz[zigzag[k]] = -v if sign else v
        k += 1


def _encode_ac_coefs(enc, stats, fixed, kx, zz):
    """Mirror of :func:`_decode_ac_coefs`; zz is zigzag-ordered."""
    last_nz = 0
    for k in range(1, 64):
        if zz[k]:
            last_nz = k
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if k > last_nz:
            enc.encode(stats, st, 1)  # EOB
            return
        enc.encode(stats, st, 0)
        while not zz[k]:
            enc.encode(stats, st + 1, 0)
            k += 1
            st = 3 * (k - 1)
        enc.encode(stats, st + 1, 1)
        v = int(zz[k])
        sign = 1 if v < 0 else 0
        enc.encode(fixed, 0, sign)
        st += 2
        sz = (-v if sign else v) - 1
        if sz == 0:
            enc.encode(stats, st, 0)
            m = 0
        elif sz == 1:
            enc.encode(stats, st, 1)
            enc.encode(stats, st, 0)
            m = 1
        else:
            enc.encode(stats, st, 1)
            enc.encode(stats, st, 1)
            m = 2
            st = _AC_X_LO if k <= kx else _AC_X_HI
            while (m << 1) <= sz:
                enc.encode(stats, st, 1)
                m <<= 1
                st += 1
            enc.encode(stats, st, 0)
        st += 14
        mm = m
        while mm > 1:
            mm >>= 1
            enc.encode(stats, st, 1 if sz & mm else 0)
        k += 1


# --- scan decode (called from decode_jpeg_pixels's marker walk) --------


def decode_arith_scan(payload, pos, frame, scan, qt, dac, restart_interval, np):
    """Sequential arithmetic-coded scan -> (w, h, channels, raster),
    or None.  Mirrors the Huffman ``_decode_scan`` MCU walk with the
    entropy layer swapped; restart intervals are out of scope (the
    same contract as the restart-marked lossless path)."""
    from mr_python_spark.multimodal.jpeg import ZIGZAG, _dct_matrix, _planes_to_raster

    if restart_interval:
        return None
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    T = _dct_matrix()
    planes = []
    dc_stats: dict[int, bytearray] = {}
    ac_stats: dict[int, bytearray] = {}
    for c in comps:
        if c["tq"] not in qt:
            return None
        td_ta = scan.get(c["id"])
        if td_ta is None:
            return None
        td, ta = td_ta
        if td > 3 or ta > 3:
            return None
        c["dc_tbl"], c["ac_tbl"] = td, ta
        dc_stats.setdefault(td, _new_stats(DC_STAT_BINS))
        ac_stats.setdefault(ta, _new_stats(AC_STAT_BINS))
        # conditioning: DC (L, U) from DAC Cs = (U << 4) | L, default
        # L=0 U=1; AC Kx from DAC Cs, default 5 (T.81 F.1.4.4.1.4/2.3)
        dcs = dac.get((0, td), 0x10)
        c["dc_cond"] = (dcs & 0x0F, dcs >> 4)
        if c["dc_cond"][0] > c["dc_cond"][1] or c["dc_cond"][1] > 15:
            return None
        kxv = dac.get((1, ta), 5)
        if not (1 <= kxv <= 63):
            return None
        c["ac_kx"] = kxv
        c["q"] = qt[c["tq"]].astype(np.float64)
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        )
    fixed = bytearray([FIXED_STATE])
    dec = _QMDecoder(payload, pos)
    pred = [0] * len(comps)
    dc_ctx = [0] * len(comps)
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, c in enumerate(comps):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            zz = np.zeros(64, dtype=np.float64)
                            diff, dc_ctx[ci] = _decode_dc_diff(
                                dec, dc_stats[c["dc_tbl"]], dc_ctx[ci],
                                c["dc_cond"],
                            )
                            pred[ci] += diff
                            zz[0] = pred[ci]
                            _decode_ac_coefs(
                                dec, ac_stats[c["ac_tbl"]], fixed,
                                c["ac_kx"], zz, ZIGZAG,
                            )
                            block = zz.reshape(8, 8) * c["q"]
                            pix = T.T @ block @ T + 128.0
                            y0 = (my * c["v"] + by) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
    except _Corrupt:
        return None
    return _planes_to_raster(frame, planes, comps, hmax, vmax, np)


# --- encoder (fixture/test side) ---------------------------------------


def encode_jpeg_arith(
    w: int, h: int, rgb: "bytes | None" = None, seed: int = 0
) -> bytes:
    """Arithmetic-coded sequential (SOF9) 4:4:4 JPEG of a (w, h) RGB
    raster; synthesizes the same deterministic seeded gradient as
    :func:`encode_jpeg` when ``rgb`` is None, and quantizes through
    the identical coefficient pipeline — so for any (w, h, rgb, seed)
    the decoded pixels must be bit-identical to the Huffman baseline's
    (the entropy layer is lossless over quantized coefficients; the
    equivalence is a test gate).  Emits an explicit DAC segment with
    the default conditioning (DC L=0 U=1, AC Kx=5) so the marker
    parser is exercised, not just defaulted."""
    import numpy as np

    from mr_python_spark.multimodal.jpeg import (
        _frame_segments_arith,
        _quantized_zigzag,
        _raster_planes,
        segment,
    )

    grids = _quantized_zigzag(_raster_planes(w, h, rgb, seed, np), w, h, np)
    enc = _QMEncoder()
    dc_stats = {0: _new_stats(DC_STAT_BINS), 1: _new_stats(DC_STAT_BINS)}
    ac_stats = {0: _new_stats(AC_STAT_BINS), 1: _new_stats(AC_STAT_BINS)}
    fixed = bytearray([FIXED_STATE])
    pred = [0, 0, 0]
    dc_ctx = [0, 0, 0]
    cond = (0, 1)
    kx = 5
    by_count = -(-h // 8)
    bx_count = -(-w // 8)
    for by in range(by_count):
        for bx in range(bx_count):
            for ci in range(3):
                ti = 0 if ci == 0 else 1
                zz = grids[ci][by, bx]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                dc_ctx[ci] = _encode_dc_diff(
                    enc, dc_stats[ti], dc_ctx[ci], cond, diff
                )
                _encode_ac_coefs(enc, ac_stats[ti], fixed, kx, zz)
    body = enc.flush()

    sos = segment(
        0xDA,
        b"\x03" + struct.pack(">BB", 1, 0x00) + struct.pack(">BB", 2, 0x11)
        + struct.pack(">BB", 3, 0x11) + b"\x00\x3f\x00",
    )
    return (
        b"\xff\xd8" + _frame_segments_arith(w, h) + sos + body + b"\xff\xd9"
    )
