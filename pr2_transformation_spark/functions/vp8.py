"""VP8 intra-frame (lossy WebP) codec — RFC 6386, pure Python + numpy.

Round-6 closure of the last documented codec seam
(``multimodal.py``: lossy VP8-in-WebP).  KEYFRAME/intra decode only —
exactly what a still WebP image is — implementing the normative pieces:

* boolean arithmetic decoder (§7) and its encoder twin,
* keyframe header / segmentation / loop-filter / quantizer /
  token-probability-update parsing (§9),
* intra mode decoding with the keyframe trees and contexts (§11),
* DCT/WHT token decoding with band + nonzero contexts (§13),
* dequantization (§14.1), inverse WHT (§14.3), inverse DCT (§14.4),
* all intra predictors: 16x16 (§12.2), chroma 8x8, and the ten 4x4
  B_PRED modes (§12.3),
* the in-loop deblocking filter, simple and normal, MB and subblock
  edges (§15) — applied as a full-frame pass after reconstruction
  (intra prediction reads UNFILTERED neighbors, so the result is
  identical to per-MB application).

The spec constant tables (default/update token probabilities, keyframe
B-mode probabilities, quantizer lookups) live in
``reference_data/vp8_tables.py``, extracted from the system libwebp
(BSD reference implementation of the same RFC) by
``scripts/extract_vp8_tables.py`` — see that script for provenance and
validation.  ``tests/test_vp8_conformance.py`` proves this decoder
bit-exact against libwebp itself (via ctypes) on real lossy encodes at
several qualities and sizes, which breaks the encoder/decoder
circularity a round-trip test alone would have.

The encoder half is fixture-grade by design: valid keyframe streams
with B_PRED/DC-only residuals whose decode is CLOSED-FORM (uniform
4x4 blocks -> scalar prediction chain), so the DuckDB oracle can
replay every reconstructed pixel without a bitstream in sight (q338).
It is not a rate-distortion encoder and does not pretend to be.

Reference parity note: the public reference repo
(Analyticsphere/pr2-transformation) has no media surface at all — its
core is SQL-string composition (core/transformations.py) — so this
module extends the EXT training-data mandate, not a reference file.
"""

from __future__ import annotations

import struct

import numpy as np

from ..reference_data.vp8_tables import (
    AC_QLOOKUP,
    COEFF_BANDS,
    COEFF_DEFAULT_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
)

# ---------------------------------------------------------------------------
# mode numbering (RFC 6386 §11.2) and small trees/probs
# ---------------------------------------------------------------------------

DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC_PRED, B_TM_PRED, B_VE_PRED, B_HE_PRED, B_LD_PRED,
 B_RD_PRED, B_VR_PRED, B_VL_PRED, B_HD_PRED, B_HU_PRED) = range(10)

KF_YMODE_TREE = [-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED]
KF_YMODE_PROBS = [145, 156, 163, 128]
UV_MODE_TREE = [-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED]
KF_UV_PROBS = [142, 114, 183]
BMODE_TREE = [
    -B_DC_PRED, 2, -B_TM_PRED, 4, -B_VE_PRED, 6, 8, 12,
    -B_HE_PRED, 10, -B_RD_PRED, -B_VR_PRED, -B_LD_PRED, 14,
    -B_VL_PRED, 16, -B_HD_PRED, -B_HU_PRED,
]
SEGMENT_TREE = [2, 4, -0, -1, -2, -3]

# token tree (§13.2): ZERO..FOUR, six extra-bit categories, EOB
TOKEN_TREE = [
    -11, 2, 0, 4, -1, 6, 8, 12, -2, 10, -3, -4,
    14, 16, -5, -6, 18, 20, -7, -8, -9, -10,
]
CAT_PROBS = [
    [159],
    [165, 145],
    [173, 148, 140],
    [176, 155, 140, 135],
    [180, 157, 141, 134, 130],
    [254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129],
]
CAT_BASE = [5, 7, 11, 19, 35, 67]
ZIGZAG = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

# 16x16-mode -> implied submode for B_PRED above/left contexts (§11.3)
_MODE_TO_SUB = {DC_PRED: B_DC_PRED, V_PRED: B_VE_PRED,
                H_PRED: B_HE_PRED, TM_PRED: B_TM_PRED}


# ---------------------------------------------------------------------------
# boolean arithmetic coder (§7)
# ---------------------------------------------------------------------------

class BoolReader:
    """RFC 6386 §7.2 boolean decoder over one partition."""

    __slots__ = ("buf", "pos", "value", "range", "bit_count")

    def __init__(self, buf: bytes):
        self.buf = buf
        b0 = buf[0] if len(buf) > 0 else 0
        b1 = buf[1] if len(buf) > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.range = 255
        self.bit_count = 0

    def get(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                self.value |= self.buf[self.pos] if self.pos < len(self.buf) else 0
                self.pos += 1
        return ret

    def literal(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            v = (v << 1) | self.get(128)
        return v

    def signed(self, bits: int) -> int:
        v = self.literal(bits)
        return -v if self.get(128) else v

    def tree(self, tree: list, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.get(probs[i >> 1])]
            if i <= 0:
                return -i


class BoolWriter:
    """Encoder twin (the libvpx boolhuff arithmetic, §7 inverted)."""

    def __init__(self):
        self.low = 0
        self.range = 255
        self.count = -24
        self.out = bytearray()

    def put(self, bit: int, prob: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        shift = 0
        r = self.range
        while r < 128:
            r <<= 1
            shift += 1
        self.range = r
        self.count += shift
        if self.count >= 0:
            offset = shift - self.count
            if offset >= 1 and (self.low << (offset - 1)) & 0x80000000:
                x = len(self.out) - 1
                while x >= 0 and self.out[x] == 0xFF:
                    self.out[x] = 0
                    x -= 1
                if x >= 0:
                    self.out[x] += 1
            self.out.append((self.low >> (24 - offset)) & 0xFF)
            self.low = (self.low << offset) & 0xFFFFFF
            shift = self.count
            self.count -= 8
        self.low = (self.low << shift) & 0xFFFFFFFF

    def literal(self, value: int, bits: int) -> None:
        for b in range(bits - 1, -1, -1):
            self.put((value >> b) & 1, 128)

    def tree(self, tree: list, probs, leaf: int, start: int = 0) -> None:
        # find the bit path to -leaf by DFS, then emit it
        path = self._path(tree, start, -leaf)
        if path is None:
            raise ValueError(f"leaf {leaf} not in tree")
        for node, bit in path:
            self.put(bit, probs[node >> 1])

    @staticmethod
    def _path(tree, i, target, acc=()):
        for bit in (0, 1):
            nxt = tree[i + bit]
            if nxt == target and nxt <= 0:
                return list(acc) + [(i, bit)]
            if nxt > 0:
                r = BoolWriter._path(tree, nxt, target, tuple(acc) + ((i, bit),))
                if r is not None:
                    return r
        return None

    def finish(self) -> bytes:
        for _ in range(32):
            self.put(0, 128)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# inverse transforms (§14.3, §14.4) — bit-exact integer
# ---------------------------------------------------------------------------

def inv_wht4x4(coeffs: list) -> list:
    """Inverse Walsh-Hadamard for the Y2 block; returns the 16 DC values
    (raster order) to seed the 16 luma subblocks."""
    ip = list(coeffs)
    tmp = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[12 + i]
        b1 = ip[4 + i] + ip[8 + i]
        c1 = ip[4 + i] - ip[8 + i]
        d1 = ip[i] - ip[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 3]
        b1 = tmp[4 * i + 1] + tmp[4 * i + 2]
        c1 = tmp[4 * i + 1] - tmp[4 * i + 2]
        d1 = tmp[4 * i] - tmp[4 * i + 3]
        out[4 * i] = (a1 + b1 + 3) >> 3
        out[4 * i + 1] = (c1 + d1 + 3) >> 3
        out[4 * i + 2] = (a1 - b1 + 3) >> 3
        out[4 * i + 3] = (d1 - c1 + 3) >> 3
    return out


_C1 = 20091  # cos(pi/8)*sqrt(2) - 1, Q16
_C2 = 35468  # sin(pi/8)*sqrt(2), Q16


def inv_dct4x4(coeffs: list) -> list:
    """§14.4 inverse DCT ("llm"); 16 residuals, raster order."""
    ip = list(coeffs)
    tmp = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[8 + i]
        b1 = ip[i] - ip[8 + i]
        t1 = (ip[4 + i] * _C2) >> 16
        t2 = ip[12 + i] + ((ip[12 + i] * _C1) >> 16)
        c1 = t1 - t2
        t1 = ip[4 + i] + ((ip[4 + i] * _C1) >> 16)
        t2 = (ip[12 + i] * _C2) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 2]
        b1 = tmp[4 * i] - tmp[4 * i + 2]
        t1 = (tmp[4 * i + 1] * _C2) >> 16
        t2 = tmp[4 * i + 3] + ((tmp[4 * i + 3] * _C1) >> 16)
        c1 = t1 - t2
        t1 = tmp[4 * i + 1] + ((tmp[4 * i + 1] * _C1) >> 16)
        t2 = (tmp[4 * i + 3] * _C2) >> 16
        d1 = t1 + t2
        out[4 * i] = (a1 + d1 + 4) >> 3
        out[4 * i + 3] = (a1 - d1 + 4) >> 3
        out[4 * i + 1] = (b1 + c1 + 4) >> 3
        out[4 * i + 2] = (b1 - c1 + 4) >> 3
    return out


# ---------------------------------------------------------------------------
# header containers
# ---------------------------------------------------------------------------

class _FrameHeader:
    """Mutable bag for the §9 frame-header fields (filled by
    :func:`_parse_header`; attribute-per-field keeps call sites
    readable without a 20-field constructor)."""


def _clamp_q(i: int, hi: int = 127) -> int:
    return 0 if i < 0 else (hi if i > hi else i)


def _dequant_factors(qi: int, d) -> dict:
    """§14.1 per-plane dequantization factors for segment quant index."""
    return {
        "y1dc": DC_QLOOKUP[_clamp_q(qi + d["y1dc"])],
        "y1ac": AC_QLOOKUP[_clamp_q(qi)],
        "y2dc": DC_QLOOKUP[_clamp_q(qi + d["y2dc"])] * 2,
        "y2ac": max(8, (AC_QLOOKUP[_clamp_q(qi + d["y2ac"])] * 155) // 100),
        "uvdc": DC_QLOOKUP[_clamp_q(qi + d["uvdc"], 117)],
        "uvac": AC_QLOOKUP[_clamp_q(qi + d["uvac"])],
    }


def _parse_header(payload: bytes) -> _FrameHeader:
    """Frame tag + keyframe start code + the §9 bool-coded first-partition
    header, through the token-probability updates."""
    h = _FrameHeader()
    if len(payload) < 10:
        raise ValueError("VP8 payload too short")
    tag = payload[0] | (payload[1] << 8) | (payload[2] << 16)
    h.keyframe = (tag & 1) == 0
    h.version = (tag >> 1) & 7
    h.show = (tag >> 4) & 1
    h.part1_size = tag >> 5
    if not h.keyframe:
        raise ValueError("only VP8 keyframes (still WebP) are supported")
    if payload[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    wraw = struct.unpack_from("<H", payload, 6)[0]
    hraw = struct.unpack_from("<H", payload, 8)[0]
    h.width, h.height = wraw & 0x3FFF, hraw & 0x3FFF
    if h.width == 0 or h.height == 0:
        raise ValueError("empty VP8 frame")
    part1 = payload[10 : 10 + h.part1_size]
    if len(part1) < h.part1_size:
        raise ValueError("truncated VP8 first partition")
    br = BoolReader(part1)
    h.color_space = br.get(128)
    h.clamping = br.get(128)

    h.seg_enabled = br.get(128)
    h.seg_tree_probs = [255, 255, 255]
    h.seg_update_map = 0
    h.seg_abs = 0
    h.seg_quant = [0, 0, 0, 0]
    h.seg_lf = [0, 0, 0, 0]
    if h.seg_enabled:
        h.seg_update_map = br.get(128)
        update_data = br.get(128)
        if update_data:
            h.seg_abs = br.get(128)
            for i in range(4):
                if br.get(128):
                    h.seg_quant[i] = br.signed(7)
            for i in range(4):
                if br.get(128):
                    h.seg_lf[i] = br.signed(6)
        if h.seg_update_map:
            for i in range(3):
                h.seg_tree_probs[i] = br.literal(8) if br.get(128) else 255

    h.filter_type = br.get(128)  # 1 = simple
    h.filter_level = br.literal(6)
    h.sharpness = br.literal(3)
    h.lf_delta_enabled = br.get(128)
    h.ref_lf_deltas = [0, 0, 0, 0]
    h.mode_lf_deltas = [0, 0, 0, 0]
    if h.lf_delta_enabled:
        if br.get(128):  # update
            for i in range(4):
                if br.get(128):
                    h.ref_lf_deltas[i] = br.signed(6)
            for i in range(4):
                if br.get(128):
                    h.mode_lf_deltas[i] = br.signed(6)

    h.n_token_parts = 1 << br.literal(2)
    h.y_ac_qi = br.literal(7)
    deltas = {}
    for k in ("y1dc", "y2dc", "y2ac", "uvdc", "uvac"):
        deltas[k] = br.signed(4) if br.get(128) else 0
    h.q_deltas = deltas

    br.get(128)  # refresh_entropy_probs (irrelevant for a single frame)

    h.coeff_probs = [
        [[list(COEFF_DEFAULT_PROBS[t][b][c]) for c in range(3)] for b in range(8)]
        for t in range(4)
    ]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    if br.get(COEFF_UPDATE_PROBS[t][b][c][p]):
                        h.coeff_probs[t][b][c][p] = br.literal(8)

    h.mb_no_skip = br.get(128)
    h.prob_skip_false = br.literal(8) if h.mb_no_skip else 0
    h.br = br  # continues with per-MB mode records
    return h


# ---------------------------------------------------------------------------
# token decoding (§13)
# ---------------------------------------------------------------------------

def _decode_coeffs(br: BoolReader, probs, plane_type: int, first: int,
                   dqf: tuple, ctx: int):
    """Decode one 4x4 coefficient block; returns (coeffs[16] in raster
    order after zigzag, has_nonzero)."""
    coeffs = [0] * 16
    n = first
    nz = False
    skip_eob = False  # after a ZERO token the EOB branch is skipped
    while n < 16:
        band_probs = probs[plane_type][COEFF_BANDS[n]][ctx]
        tok = br.tree(TOKEN_TREE, band_probs, start=2 if skip_eob else 0)
        if tok == 11:  # EOB
            break
        if tok == 0:
            ctx = 0
            skip_eob = True
            n += 1
            continue
        if tok <= 4:
            val = tok
        else:
            cat = tok - 5
            extra = 0
            for p in CAT_PROBS[cat]:
                extra = (extra << 1) | br.get(p)
            val = CAT_BASE[cat] + extra
        if br.get(128):
            val = -val
        ctx = 1 if abs(val) == 1 else 2
        skip_eob = False
        q = dqf[0] if n == 0 else dqf[1]
        coeffs[ZIGZAG[n]] = val * q
        nz = True
        n += 1
    return coeffs, nz


# ---------------------------------------------------------------------------
# intra predictors (§12)
# ---------------------------------------------------------------------------

def _pred_dc(above, left, have_above, have_left, n):
    if have_above and have_left:
        s = int(np.sum(above[:n])) + int(np.sum(left[:n]))
        return (s + n) >> (int(n).bit_length())  # n + log2? see below
    if have_above:
        return (int(np.sum(above[:n])) + (n >> 1)) >> (n.bit_length() - 1)
    if have_left:
        return (int(np.sum(left[:n])) + (n >> 1)) >> (n.bit_length() - 1)
    return 128


def _clip255(a):
    return np.clip(a, 0, 255)


def _pred16_or_8(mode, above, left, corner, have_above, have_left, n):
    """16x16 luma / 8x8 chroma whole-block prediction -> (n, n) uint8."""
    if mode == DC_PRED:
        return np.full((n, n), _pred_dc(above, left, have_above, have_left, n),
                       dtype=np.uint8)
    if mode == V_PRED:
        return np.tile(above[:n], (n, 1)).astype(np.uint8)
    if mode == H_PRED:
        return np.tile(left[:n].reshape(n, 1), (1, n)).astype(np.uint8)
    # TM
    a = above[:n].astype(np.int32)
    l = left[:n].astype(np.int32).reshape(n, 1)
    return _clip255(l + a - int(corner)).astype(np.uint8)


def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _pred4(mode, A, AR, L, P):
    """One 4x4 B_PRED block.  A=above[4], AR=above-right[4], L=left[4],
    P=above-left corner; all plain ints."""
    o = [[0] * 4 for _ in range(4)]
    a = list(A) + list(AR)
    if mode == B_DC_PRED:
        v = (sum(A) + sum(L) + 4) >> 3
        return [[v] * 4 for _ in range(4)]
    if mode == B_TM_PRED:
        for r in range(4):
            for c in range(4):
                o[r][c] = min(255, max(0, L[r] + A[c] - P))
        return o
    if mode == B_VE_PRED:
        e = [P] + list(A) + [AR[0]]
        row = [_avg3(e[i], e[i + 1], e[i + 2]) for i in range(4)]
        return [row[:] for _ in range(4)]
    if mode == B_HE_PRED:
        e = [P] + list(L)
        col = [_avg3(e[i], e[i + 1], e[i + 2]) for i in range(3)]
        col.append(_avg3(L[2], L[3], L[3]))
        return [[col[r]] * 4 for r in range(4)]
    if mode == B_LD_PRED:
        for r in range(4):
            for c in range(4):
                i = r + c
                o[r][c] = (_avg3(a[i], a[i + 1], a[i + 2]) if i < 6
                           else _avg3(a[6], a[7], a[7]))
        return o
    # edge array for the right-diagonal family: L bottom-up, corner, A
    e = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]]
    if mode == B_RD_PRED:
        for r in range(4):
            for c in range(4):
                i = c - r + 4
                o[r][c] = _avg3(e[i - 1], e[i], e[i + 1])
        return o
    if mode == B_VR_PRED:
        o[0] = [_avg2(P, A[0]), _avg2(A[0], A[1]), _avg2(A[1], A[2]), _avg2(A[2], A[3])]
        o[1] = [_avg3(L[0], P, A[0]), _avg3(P, A[0], A[1]),
                _avg3(A[0], A[1], A[2]), _avg3(A[1], A[2], A[3])]
        o[2] = [_avg3(L[1], L[0], P)] + o[0][:3]
        o[3] = [_avg3(L[2], L[1], L[0])] + o[1][:3]
        return o
    if mode == B_VL_PRED:
        o[0] = [_avg2(a[0], a[1]), _avg2(a[1], a[2]), _avg2(a[2], a[3]), _avg2(a[3], a[4])]
        o[1] = [_avg3(a[0], a[1], a[2]), _avg3(a[1], a[2], a[3]),
                _avg3(a[2], a[3], a[4]), _avg3(a[3], a[4], a[5])]
        o[2] = o[0][1:] + [_avg3(a[4], a[5], a[6])]
        o[3] = o[1][1:] + [_avg3(a[5], a[6], a[7])]
        return o
    if mode == B_HD_PRED:
        o[0] = [_avg2(L[0], P), _avg3(L[0], P, A[0]), _avg3(P, A[0], A[1]),
                _avg3(A[0], A[1], A[2])]
        o[1] = [_avg2(L[1], L[0]), _avg3(L[1], L[0], P)] + o[0][:2]
        o[2] = [_avg2(L[2], L[1]), _avg3(L[2], L[1], L[0])] + o[1][:2]
        o[3] = [_avg2(L[3], L[2]), _avg3(L[3], L[2], L[1])] + o[2][:2]
        return o
    if mode == B_HU_PRED:
        o[0] = [_avg2(L[0], L[1]), _avg3(L[0], L[1], L[2]),
                _avg2(L[1], L[2]), _avg3(L[1], L[2], L[3])]
        o[1] = [o[0][2], o[0][3], _avg2(L[2], L[3]), _avg3(L[2], L[3], L[3])]
        o[2] = [o[1][2], o[1][3], L[3], L[3]]
        o[3] = [L[3]] * 4
        return o
    raise ValueError(f"bad 4x4 intra mode {mode}")

# ---------------------------------------------------------------------------
# frame reconstruction
# ---------------------------------------------------------------------------

def _mb_modes_pass(h, mb_w, mb_h):
    """First-partition per-MB prediction records (§11): segment ids,
    skip flags, luma/chroma modes, B_PRED submodes with keyframe
    contexts."""
    br = h.br
    above_sub = [[B_DC_PRED] * 4 for _ in range(mb_w)]
    recs = []
    for _y in range(mb_h):
        left_sub = [B_DC_PRED] * 4
        for x in range(mb_w):
            sid = 0
            if h.seg_enabled and h.seg_update_map:
                sid = br.tree(SEGMENT_TREE, h.seg_tree_probs)
            skip = br.get(h.prob_skip_false) if h.mb_no_skip else 0
            ymode = br.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            if ymode == B_PRED:
                subs = [0] * 16
                for r in range(4):
                    for c in range(4):
                        a = above_sub[x][c] if r == 0 else subs[(r - 1) * 4 + c]
                        l = left_sub[r] if c == 0 else subs[r * 4 + c - 1]
                        subs[r * 4 + c] = br.tree(
                            BMODE_TREE, KF_BMODE_PROBS[a][l]
                        )
                above_sub[x] = subs[12:16]
                left_sub = [subs[3], subs[7], subs[11], subs[15]]
            else:
                sub = _MODE_TO_SUB[ymode]
                subs = None
                above_sub[x] = [sub] * 4
                left_sub = [sub] * 4
            uvmode = br.tree(UV_MODE_TREE, KF_UV_PROBS)
            recs.append((sid, skip, ymode, subs, uvmode))
    return recs


def _above_row(buf, mbx, mby, n, mb_count):
    """Above row (n px) + above-right (4 px) + corner for the MB at
    (mbx, mby) from the UNFILTERED plane buffer.

    Border conventions, settled against libwebp the hard way: the row
    above the frame is 127 (corner included); for lower rows the
    above-right beyond the frame's right edge REPLICATES the last above
    pixel (not 127), and the above-left corner of a left-column MB is
    129 (it belongs to the left border)."""
    if mby == 0:
        return (np.full(n, 127, dtype=np.int32),
                np.full(4, 127, dtype=np.int32), 127)
    y0 = mby * n
    above = buf[y0 - 1, mbx * n : mbx * n + n].astype(np.int32)
    if mbx + 1 < mb_count:
        ar = buf[y0 - 1, (mbx + 1) * n : (mbx + 1) * n + 4].astype(np.int32)
    else:
        ar = np.full(4, int(above[-1]), dtype=np.int32)
    corner = 129 if mbx == 0 else int(buf[y0 - 1, mbx * n - 1])
    return above, ar, corner


def _left_col(buf, mbx, mby, n):
    if mbx == 0:
        return np.full(n, 129, dtype=np.int32)
    y0, x0 = mby * n, mbx * n
    return buf[y0 : y0 + n, x0 - 1].astype(np.int32)


def _add_residual(buf, y0, x0, coeffs):
    blk = buf[y0 : y0 + 4, x0 : x0 + 4].astype(np.int32)
    res = np.array(inv_dct4x4(coeffs), dtype=np.int32).reshape(4, 4)
    buf[y0 : y0 + 4, x0 : x0 + 4] = _clip255(blk + res).astype(np.uint8)


def decode_frame(payload: bytes):
    """Decode one VP8 keyframe (the body of a 'VP8 ' chunk) to
    ``(header, Y, U, V)`` uint8 planes, loop-filtered and cropped."""
    h = _parse_header(payload)
    mb_w = (h.width + 15) // 16
    mb_h = (h.height + 15) // 16
    recs = _mb_modes_pass(h, mb_w, mb_h)

    pos = 10 + h.part1_size
    sizes = []
    for _ in range(h.n_token_parts - 1):
        if pos + 3 > len(payload):
            raise ValueError("truncated VP8 partition size table")
        sizes.append(payload[pos] | (payload[pos + 1] << 8) | (payload[pos + 2] << 16))
        pos += 3
    parts = []
    for s in sizes:
        parts.append(BoolReader(payload[pos : pos + s]))
        pos += s
    parts.append(BoolReader(payload[pos:]))

    # per-segment dequant factors
    seg_dq = []
    for s in range(4):
        if h.seg_enabled:
            qi = h.seg_quant[s] if h.seg_abs else h.y_ac_qi + h.seg_quant[s]
        else:
            qi = h.y_ac_qi
        seg_dq.append(_dequant_factors(_clamp_q(qi), h.q_deltas))

    Y = np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8)
    U = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
    V = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)

    # nonzero contexts: per MB column [y0..y3, u0,u1, v0,v1, y2]
    above_nz = [[0] * 9 for _ in range(mb_w)]
    filter_info = []  # (level already applied later) per MB: (sid, ymode, nz_any)

    for mby in range(mb_h):
        left_nz = [0] * 9
        for mbx in range(mb_w):
            sid, skip, ymode, subs, uvmode = recs[mby * mb_w + mbx]
            dq = seg_dq[sid]
            br = parts[mby % h.n_token_parts]
            has_y2 = ymode != B_PRED
            nz_any = False
            y2_dcs = [0] * 16

            blocks_y = [[0] * 16 for _ in range(16)]
            blocks_u = [[0] * 16 for _ in range(4)]
            blocks_v = [[0] * 16 for _ in range(4)]
            bnz_y = [False] * 16
            bnz_u = [False] * 4
            bnz_v = [False] * 4

            if skip:
                for i in range(4):
                    left_nz[i] = 0
                    above_nz[mbx][i] = 0
                for i in range(4, 8):
                    left_nz[i] = 0
                    above_nz[mbx][i] = 0
                if has_y2:
                    left_nz[8] = 0
                    above_nz[mbx][8] = 0
            else:
                if has_y2:
                    ctx = above_nz[mbx][8] + left_nz[8]
                    c2, nz = _decode_coeffs(
                        br, h.coeff_probs, 1, 0, (dq["y2dc"], dq["y2ac"]), ctx
                    )
                    above_nz[mbx][8] = left_nz[8] = 1 if nz else 0
                    y2_dcs = inv_wht4x4(c2)
                    nz_any = nz_any or nz
                ptype = 0 if has_y2 else 3
                first = 1 if has_y2 else 0
                for r in range(4):
                    for c in range(4):
                        ctx = above_nz[mbx][c] + left_nz[r]
                        coeffs, nz = _decode_coeffs(
                            br, h.coeff_probs, ptype, first,
                            (dq["y1dc"], dq["y1ac"]), ctx,
                        )
                        above_nz[mbx][c] = left_nz[r] = 1 if nz else 0
                        if has_y2:
                            coeffs[0] = y2_dcs[r * 4 + c]
                        blocks_y[r * 4 + c] = coeffs
                        bnz_y[r * 4 + c] = nz or coeffs[0] != 0
                        nz_any = nz_any or nz
                for pl, blocks, bnz, off in (
                    ("u", blocks_u, bnz_u, 4),
                    ("v", blocks_v, bnz_v, 6),
                ):
                    for r in range(2):
                        for c in range(2):
                            ctx = above_nz[mbx][off + c] + left_nz[off + r]
                            coeffs, nz = _decode_coeffs(
                                br, h.coeff_probs, 2, 0,
                                (dq["uvdc"], dq["uvac"]), ctx,
                            )
                            above_nz[mbx][off + c] = left_nz[off + r] = 1 if nz else 0
                            blocks[r * 2 + c] = coeffs
                            bnz[r * 2 + c] = nz
                            nz_any = nz_any or nz

            # ---- luma reconstruction
            y0, x0 = mby * 16, mbx * 16
            if ymode != B_PRED:
                above, _, corner = _above_row(Y, mbx, mby, 16, mb_w)
                left = _left_col(Y, mbx, mby, 16)
                Y[y0 : y0 + 16, x0 : x0 + 16] = _pred16_or_8(
                    ymode, above, left, corner, mby > 0, mbx > 0, 16
                )
                for r in range(4):
                    for c in range(4):
                        if bnz_y[r * 4 + c]:
                            _add_residual(Y, y0 + r * 4, x0 + c * 4,
                                          blocks_y[r * 4 + c])
            else:
                above16, ar_mb, corner = _above_row(Y, mbx, mby, 16, mb_w)
                for r in range(4):
                    for c in range(4):
                        by, bx = y0 + r * 4, x0 + c * 4
                        if r == 0:
                            A = above16[c * 4 : c * 4 + 4]
                            P = corner if c == 0 else int(above16[c * 4 - 1])
                            AR = ar_mb if c == 3 else above16[c * 4 + 4 : c * 4 + 8]
                        else:
                            A = Y[by - 1, bx : bx + 4].astype(np.int32)
                            if c == 3:
                                AR = ar_mb
                            else:
                                AR = Y[by - 1, bx + 4 : bx + 8].astype(np.int32)
                            P = (129 if mbx == 0 and c == 0
                                 else int(Y[by - 1, bx - 1]))
                        if c == 0:
                            L = (np.full(4, 129, dtype=np.int32) if mbx == 0
                                 else Y[by : by + 4, bx - 1].astype(np.int32))
                        else:
                            L = Y[by : by + 4, bx - 1].astype(np.int32)
                        pred = np.array(
                            _pred4(subs[r * 4 + c], [int(v) for v in A],
                                   [int(v) for v in AR], [int(v) for v in L],
                                   int(P)),
                            dtype=np.int32,
                        )
                        res = np.array(
                            inv_dct4x4(blocks_y[r * 4 + c]), dtype=np.int32
                        ).reshape(4, 4)
                        Y[by : by + 4, bx : bx + 4] = _clip255(pred + res).astype(
                            np.uint8
                        )

            # ---- chroma reconstruction
            for pl, buf, blocks, bnz in (
                ("u", U, blocks_u, bnz_u), ("v", V, blocks_v, bnz_v)
            ):
                cy0, cx0 = mby * 8, mbx * 8
                above, _, corner = _above_row(buf, mbx, mby, 8, mb_w)
                left = _left_col(buf, mbx, mby, 8)
                buf[cy0 : cy0 + 8, cx0 : cx0 + 8] = _pred16_or_8(
                    uvmode, above, left, corner, mby > 0, mbx > 0, 8
                )
                for r in range(2):
                    for c in range(2):
                        if bnz[r * 2 + c]:
                            _add_residual(buf, cy0 + r * 4, cx0 + c * 4,
                                          blocks[r * 2 + c])

            filter_info.append((sid, ymode, nz_any))

    _loop_filter(h, Y, U, V, recs, filter_info, mb_w, mb_h)

    cw, ch = (h.width + 1) // 2, (h.height + 1) // 2
    return h, Y[: h.height, : h.width], U[:ch, :cw], V[:ch, :cw]

# ---------------------------------------------------------------------------
# in-loop deblocking filter (§15)
# ---------------------------------------------------------------------------

def _filter_params(h, sid, ymode):
    level = h.filter_level
    if h.seg_enabled:
        level = h.seg_lf[sid] if h.seg_abs else level + h.seg_lf[sid]
    level = max(0, min(63, level))
    if h.lf_delta_enabled:
        level += h.ref_lf_deltas[0]  # keyframe: INTRA_FRAME reference
        if ymode == B_PRED:
            level += h.mode_lf_deltas[0]
        level = max(0, min(63, level))
    if level == 0:
        return None
    interior = level
    if h.sharpness:
        interior >>= 2 if h.sharpness > 4 else 1
        interior = min(interior, 9 - h.sharpness)
    interior = max(1, interior)
    hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
    return level, interior, hev_t


def _seg8(buf, y0, x0, n, horiz, off):
    """The 8-pixel cross-section p3..q3 at a vertical (horiz=False) or
    horizontal edge, as a list of 8 int32 vectors of length n."""
    if horiz:
        return [buf[y0 + off + d, x0 : x0 + n].astype(np.int32)
                for d in range(-4, 4)]
    return [buf[y0 : y0 + n, x0 + off + d].astype(np.int32)
            for d in range(-4, 4)]


def _seg_store(buf, y0, x0, n, horiz, off, vals):
    for d, v in zip(range(-4, 4), vals):
        if v is None:
            continue
        vv = np.clip(v, 0, 255).astype(np.uint8)
        if horiz:
            buf[y0 + off + d, x0 : x0 + n] = vv
        else:
            buf[y0 : y0 + n, x0 + off + d] = vv


def _c128(x):
    return np.clip(x, -128, 127)


def _normal_filter(seg, mb_edge, ilim, elim, hev_t):
    p3, p2, p1, p0, q0, q1, q2, q3 = seg
    mask = (
        (np.abs(p3 - p2) <= ilim) & (np.abs(p2 - p1) <= ilim)
        & (np.abs(p1 - p0) <= ilim) & (np.abs(q1 - q0) <= ilim)
        & (np.abs(q2 - q1) <= ilim) & (np.abs(q3 - q2) <= ilim)
        & (np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2 <= elim)
    )
    hev = (np.abs(p1 - p0) > hev_t) | (np.abs(q1 - q0) > hev_t)
    ps2, ps1, ps0 = p2 - 128, p1 - 128, p0 - 128
    qs0, qs1, qs2 = q0 - 128, q1 - 128, q2 - 128

    if mb_edge:
        # hev: two-tap common adjust; !hev: 27/18/9 wide taps
        a = _c128(_c128(ps1 - qs1) + 3 * (qs0 - ps0))
        Fh = _c128(a + 4) >> 3
        Eh = _c128(a + 3) >> 3
        w = _c128(_c128(ps1 - qs1) + 3 * (qs0 - ps0))
        a27 = _c128((27 * w + 63) >> 7)
        a18 = _c128((18 * w + 63) >> 7)
        a9 = _c128((9 * w + 63) >> 7)
        sel_h, sel_n = mask & hev, mask & ~hev
        np0 = np.where(sel_h, ps0 + Eh, np.where(sel_n, ps0 + a27, ps0)) + 128
        nq0 = np.where(sel_h, qs0 - Fh, np.where(sel_n, qs0 - a27, qs0)) + 128
        np1 = np.where(sel_n, ps1 + a18, ps1) + 128
        nq1 = np.where(sel_n, qs1 - a18, qs1) + 128
        np2 = np.where(sel_n, ps2 + a9, ps2) + 128
        nq2 = np.where(sel_n, qs2 - a9, qs2) + 128
        return [None, np2, np1, np0, nq0, nq1, nq2, None]

    # subblock edge: common adjust with outer taps only under hev, then
    # the (F+1)>>1 roll-off on p1/q1 when not hev
    outer = np.where(hev, _c128(ps1 - qs1), 0)
    a = _c128(outer + 3 * (qs0 - ps0))
    F = _c128(a + 4) >> 3
    E = _c128(a + 3) >> 3
    np0 = np.where(mask, ps0 + E, ps0) + 128
    nq0 = np.where(mask, qs0 - F, qs0) + 128
    roll = (F + 1) >> 1
    np1 = np.where(mask & ~hev, ps1 + roll, ps1) + 128
    nq1 = np.where(mask & ~hev, qs1 - roll, qs1) + 128
    return [None, None, np1, np0, nq0, nq1, None, None]


def _simple_filter(seg, elim):
    p1, p0, q0, q1 = seg[1], seg[3], seg[4], seg[5]
    mask = np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2 <= elim
    ps1, ps0, qs0, qs1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
    a = _c128(_c128(ps1 - qs1) + 3 * (qs0 - ps0))
    F = _c128(a + 4) >> 3
    E = _c128(a + 3) >> 3
    np0 = np.where(mask, ps0 + E, ps0) + 128
    nq0 = np.where(mask, qs0 - F, qs0) + 128
    return [None, None, None, np0, nq0, None, None, None]


def _loop_filter(h, Y, U, V, recs, filter_info, mb_w, mb_h):
    if h.filter_level == 0:
        return
    simple = h.filter_type == 1
    for mby in range(mb_h):
        for mbx in range(mb_w):
            sid, ymode, nz_any = filter_info[mby * mb_w + mbx]
            params = _filter_params(h, sid, ymode)
            if params is None:
                continue
            level, interior, hev_t = params
            mb_lim = 2 * (level + 2) + interior
            sb_lim = 2 * level + interior
            inner = nz_any or ymode == B_PRED
            y0, x0 = mby * 16, mbx * 16
            cy0, cx0 = mby * 8, mbx * 8

            def edge(buf, ey, ex, n, horiz, mb_edge):
                seg = _seg8(buf, ey, ex, n, horiz, 0)
                if simple:
                    out = _simple_filter(seg, mb_lim if mb_edge else sb_lim)
                else:
                    out = _normal_filter(
                        seg, mb_edge, interior,
                        mb_lim if mb_edge else sb_lim, hev_t,
                    )
                _seg_store(buf, ey, ex, n, horiz, 0, out)

            # left MB edge
            if mbx > 0:
                edge(Y, y0, x0, 16, False, True)
                if not simple:
                    edge(U, cy0, cx0, 8, False, True)
                    edge(V, cy0, cx0, 8, False, True)
            # interior vertical edges
            if inner:
                for k in (4, 8, 12):
                    edge(Y, y0, x0 + k, 16, False, False)
                if not simple:
                    edge(U, cy0, cx0 + 4, 8, False, False)
                    edge(V, cy0, cx0 + 4, 8, False, False)
            # top MB edge
            if mby > 0:
                edge(Y, y0, x0, 16, True, True)
                if not simple:
                    edge(U, cy0, cx0, 8, True, True)
                    edge(V, cy0, cx0, 8, True, True)
            # interior horizontal edges
            if inner:
                for k in (4, 8, 12):
                    edge(Y, y0 + k, x0, 16, True, False)
                if not simple:
                    edge(U, cy0 + 4, cx0, 8, True, False)
                    edge(V, cy0 + 4, cx0, 8, True, False)

# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def find_vp8_chunk(payload: bytes):
    """RIFF walk to the 'VP8 ' chunk body (plain or inside VP8X)."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if fourcc == b"VP8 ":
            return payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    raise ValueError("WebP without VP8 chunk")


def vp8_decode(payload: bytes) -> dict:
    """Header-only decode of a lossy WebP (plain or VP8X-extended):
    dimensions + alpha + filter/quant summary (the webp_decode twin for
    'VP8 ' chunks)."""
    parts = parse_container(payload)
    h = _parse_header(find_vp8_chunk(payload))
    return {
        "media_type": "image",
        "format": "webp-lossy",
        "width": h.width,
        "height": h.height,
        "has_alpha": parts["alph"] is not None,
        "filter_level": h.filter_level,
        "y_ac_qi": h.y_ac_qi,
    }


def vp8_decode_yuv(payload: bytes):
    """Full normative decode of a lossy WebP to (Y, U, V) uint8 planes."""
    _, Y, U, V = decode_frame(find_vp8_chunk(payload))
    return Y, U, V


def vp8_pixels(payload: bytes):
    """Decode a lossy WebP to (h, w, 4) uint8 RGBA.

    Chroma is point-sampled (each 2x2 luma block shares its chroma
    sample) and converted with the BT.601 full-swing integer formula —
    a DETERMINISTIC documented conversion, deliberately simpler than
    libwebp's fancy upsampler; conformance against libwebp is asserted
    on the YUV planes (the normative decoder output), not on RGB.
    When the container carries an ALPH chunk (VP8X-extended still with
    transparency), its alpha plane decodes EXACTLY (headless VP8L or
    raw + row unfiltering) and conformance DOES hold bit-for-bit on the
    alpha channel."""
    parts = parse_container(payload)
    Y, U, V = vp8_decode_yuv(payload)
    h, w = Y.shape
    y = Y.astype(np.int32)
    u = U.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    v = V.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    c = (y - 16) * 298
    r = _clip255((c + 409 * v + 128) >> 8)
    g = _clip255((c - 100 * u - 208 * v + 128) >> 8)
    b = _clip255((c + 516 * u + 128) >> 8)
    out = np.empty((h, w, 4), dtype=np.uint8)
    out[..., 0], out[..., 1], out[..., 2] = r, g, b
    if parts["alph"] is not None:
        out[..., 3] = decode_alpha(parts["alph"], w, h)
    else:
        out[..., 3] = 255
    return out


# ---------------------------------------------------------------------------
# fixture-grade encoder: B_PRED / DC-only keyframes
# ---------------------------------------------------------------------------

def _write_token_dc(bw, probs, ptype, level, ctx):
    """Write one 4x4 block's tokens: a single DC coefficient at
    position 0 of value ``level`` (level 0 = empty block), then EOB.
    Returns the block's nonzero flag."""
    band0 = probs[ptype][COEFF_BANDS[0]][ctx]
    if level == 0:
        bw.tree(TOKEN_TREE, band0, 11)  # immediate EOB
        return 0
    mag = abs(level)
    if mag <= 4:
        tok = mag
    else:
        cat = 0  # categories tile [5, 2112] contiguously
        while cat < 5 and mag >= CAT_BASE[cat + 1]:
            cat += 1
        tok = 5 + cat
    bw.tree(TOKEN_TREE, band0, tok)
    if tok >= 5:
        cat = tok - 5
        extra = mag - CAT_BASE[cat]
        for i, p in enumerate(CAT_PROBS[cat]):
            bw.put((extra >> (len(CAT_PROBS[cat]) - 1 - i)) & 1, p)
    bw.put(1 if level < 0 else 0, 128)
    nctx = 1 if mag == 1 else 2
    band1 = probs[ptype][COEFF_BANDS[1]][nctx]
    bw.tree(TOKEN_TREE, band1, 11)  # EOB after the DC
    return 1


def vp8_encode_dc(levels: "np.ndarray", qindex: int = 40,
                  filter_level: int = 0, sharpness: int = 0) -> bytes:
    """Encode a VALID VP8 keyframe WebP whose decode is closed-form.

    ``levels`` is an int array of shape (4*mb_h, 4*mb_w): one quantized
    DC level per 4x4 luma subblock (|level| <= 2112).  Every macroblock
    is B_PRED with all submodes B_DC_PRED, chroma DC_PRED with zero
    residual, one token partition, no segmentation, loop filter off —
    so each reconstructed 4x4 block is UNIFORM:

        value(r, c) = clip(((4*above + 4*left + 4) >> 3)
                           + ((level * dcq + 4) >> 3))

    with above/left the neighboring blocks' uniform values (127/129 at
    the frame borders) and ``dcq = DC_QLOOKUP[qindex]`` — a scalar
    recurrence an SQL oracle replays exactly (q338).  Chroma decodes to
    a constant 128 plane.
    """
    levels = np.asarray(levels, dtype=np.int64)
    sb_h, sb_w = levels.shape
    if sb_h % 4 or sb_w % 4:
        raise ValueError("levels grid must be 4x4 blocks per macroblock")
    mb_h, mb_w = sb_h // 4, sb_w // 4
    width, height = mb_w * 16, mb_h * 16
    probs = COEFF_DEFAULT_PROBS

    # ---- first partition: header + modes
    bw = BoolWriter()
    bw.put(0, 128)  # color space
    bw.put(0, 128)  # clamping
    bw.put(0, 128)  # segmentation disabled
    bw.put(0, 128)  # filter type: normal
    bw.literal(filter_level, 6)  # 0 = loop filter off (the q338 contract)
    bw.literal(sharpness, 3)
    bw.put(0, 128)  # no lf deltas
    bw.literal(0, 2)  # one token partition
    bw.literal(qindex, 7)
    for _ in range(5):
        bw.put(0, 128)  # no quantizer deltas
    bw.put(1, 128)  # refresh entropy (ignored for stills)
    for t in range(4):  # no coeff prob updates
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    bw.put(0, COEFF_UPDATE_PROBS[t][b][c][p])
    bw.put(1, 128)  # mb_no_coeff_skip present
    bw.literal(128, 8)  # prob_skip_false
    for _ in range(mb_h * mb_w):
        bw.put(0, 128)  # not skipped
        bw.tree(KF_YMODE_TREE, KF_YMODE_PROBS, B_PRED)
        for _sb in range(16):  # every context resolves to [B_DC][B_DC]
            bw.tree(BMODE_TREE, KF_BMODE_PROBS[B_DC_PRED][B_DC_PRED],
                    B_DC_PRED)
        bw.tree(UV_MODE_TREE, KF_UV_PROBS, DC_PRED)
    part1 = bw.finish()

    # ---- token partition
    tw = BoolWriter()
    above_nz = [[0] * 8 for _ in range(mb_w)]  # 4 luma + 2 u + 2 v
    for mby in range(mb_h):
        left_nz = [0] * 8
        for mbx in range(mb_w):
            for r in range(4):
                for c in range(4):
                    lv = int(levels[mby * 4 + r, mbx * 4 + c])
                    ctx = above_nz[mbx][c] + left_nz[r]
                    nz = _write_token_dc(tw, probs, 3, lv, ctx)
                    above_nz[mbx][c] = left_nz[r] = nz
            for off in (4, 6):  # u then v: all-zero blocks
                for r in range(2):
                    for c in range(2):
                        ctx = above_nz[mbx][off + c] + left_nz[off + r]
                        _write_token_dc(tw, probs, 2, 0, ctx)
                        above_nz[mbx][off + c] = left_nz[off + r] = 0
    tokens = tw.finish()

    tag = (0) | (0 << 1) | (1 << 4) | (len(part1) << 5)
    frame = (
        bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", width, height)
        + part1
        + tokens
    )
    chunk = b"VP8 " + struct.pack("<I", len(frame)) + frame
    if len(frame) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def expected_dc_decode(levels: "np.ndarray", qindex: int = 40) -> "np.ndarray":
    """Closed-form replay of :func:`vp8_encode_dc`'s decode — the same
    scalar recurrence the q338 SQL oracle runs: per-subblock uniform
    values from the B_DC prediction chain.  Returns the (4*mb_h, 4*mb_w)
    grid of uniform block values (each covers 4x4 luma pixels)."""
    levels = np.asarray(levels, dtype=np.int64)
    sb_h, sb_w = levels.shape
    dcq = DC_QLOOKUP[_clamp_q(qindex)]
    vals = np.zeros((sb_h, sb_w), dtype=np.int64)
    for r in range(sb_h):
        for c in range(sb_w):
            above = 127 if r == 0 else vals[r - 1, c]
            left = 129 if c == 0 else vals[r, c - 1]
            pred = (4 * above + 4 * left + 4) >> 3
            res = (int(levels[r, c]) * dcq + 4) >> 3
            vals[r, c] = min(255, max(0, pred + res))
    return vals

# ---------------------------------------------------------------------------
# extended container: VP8X + ALPH (alpha plane) — still-WebP completion
# ---------------------------------------------------------------------------

def parse_container(payload: bytes) -> dict:
    """RIFF walk returning every still-WebP piece: the 'VP8 ' body,
    the optional ALPH body, and VP8X canvas dimensions when present."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    out = {"vp8": None, "alph": None, "vp8x": None}
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8 ":
            out["vp8"] = body
        elif fourcc == b"ALPH":
            out["alph"] = body
        elif fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("short VP8X chunk")
            out["vp8x"] = {
                "flags": body[0],
                "has_alpha": bool(body[0] & 0x10),
                "width": 1 + (body[4] | (body[5] << 8) | (body[6] << 16)),
                "height": 1 + (body[7] | (body[8] << 8) | (body[9] << 16)),
            }
        pos += 8 + size + (size & 1)
    return out


def _unfilter_alpha(plane: "np.ndarray", method: int) -> "np.ndarray":
    """Inverse of the container spec's alpha row filters: method 1
    predicts left (top row: above-less, leftmost uses above), 2
    predicts above (leftmost column fallback to left), 3 the gradient
    clip(A + B - C); addition wraps modulo 256."""
    if method == 0:
        return plane
    h, w = plane.shape
    out = np.zeros((h, w), dtype=np.int32)
    p = plane.astype(np.int32)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0
            elif method == 1:  # horizontal
                pred = out[y, x - 1] if x > 0 else out[y - 1, x]
            elif method == 2:  # vertical
                pred = out[y - 1, x] if y > 0 else out[y, x - 1]
            else:  # gradient
                a = out[y, x - 1] if x > 0 else (out[y - 1, x] if y > 0 else 0)
                b = out[y - 1, x] if y > 0 else (out[y, x - 1] if x > 0 else 0)
                c = out[y - 1, x - 1] if (x > 0 and y > 0) else 0
                pred = min(255, max(0, a + b - c))
            out[y, x] = (p[y, x] + pred) & 0xFF
    return out


def decode_alpha(alph: bytes, w: int, h: int) -> "np.ndarray":
    """ALPH chunk -> (h, w) uint8 alpha plane.  Header byte:
    rsv(2) | preprocessing(2) | filtering(2) | compression(2).
    Compression 0 is the raw row-major plane; 1 is a HEADLESS VP8L
    bitstream (dims from VP8X) carrying alpha in the green channel.
    Row filtering is inverted afterwards; preprocessing (level
    reduction) is an encode-side choice with no decode action."""
    if not alph:
        raise ValueError("empty ALPH chunk")
    head = alph[0]
    compression = head & 3
    filtering = (head >> 2) & 3
    if compression == 0:
        if len(alph) - 1 < w * h:
            raise ValueError("raw ALPH plane shorter than canvas")
        plane = np.frombuffer(alph[1 : 1 + w * h], np.uint8).reshape(h, w)
    elif compression == 1:
        from .multimodal import _Vp8lBitReader, _vp8l_decode_headless

        rgba = _vp8l_decode_headless(_Vp8lBitReader(alph[1:]), w, h)
        plane = rgba[..., 1]  # alpha rides the green channel by spec
    else:
        raise ValueError(f"reserved ALPH compression method {compression}")
    return _unfilter_alpha(plane, filtering).astype(np.uint8)

# ---------------------------------------------------------------------------
# animated WebP (VP8X + ANIM/ANMF): demux, mux, compositing
# ---------------------------------------------------------------------------

def _u24(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8) | (b[off + 2] << 16)


def webp_anim_frames(payload: bytes) -> dict:
    """Demux an animated WebP: ANIM parameters + per-ANMF frame records
    ``{x, y, width, height, duration_ms, blend, dispose, payload}``
    where ``payload`` is a standalone still WebP (the frame's ALPH/VP8/
    VP8L chunks rewrapped) decodable by :func:`vp8_pixels` /
    ``multimodal.webp_pixels``."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    canvas = None
    anim = None
    frames = []
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8X":
            canvas = {
                "has_anim": bool(body[0] & 0x02),
                "width": 1 + _u24(body, 4),
                "height": 1 + _u24(body, 7),
            }
        elif fourcc == b"ANIM":
            anim = {
                "background_rgba": tuple(body[0:4]),  # B,G,R,A byte order
                "loop_count": struct.unpack_from("<H", body, 4)[0],
            }
        elif fourcc == b"ANMF":
            flags = body[15]
            inner = body[16:]
            riff = b"WEBP" + inner
            frames.append({
                "x": _u24(body, 0) * 2,
                "y": _u24(body, 3) * 2,
                "width": 1 + _u24(body, 6),
                "height": 1 + _u24(body, 9),
                "duration_ms": _u24(body, 12),
                "blend": (flags & 0x02) == 0,   # bit1: 0 = alpha-blend
                "dispose": bool(flags & 0x01),  # bit0: dispose to bg
                "payload": b"RIFF" + struct.pack("<I", len(riff)) + riff,
            })
        pos += 8 + size + (size & 1)
    if canvas is None or anim is None or not frames:
        raise ValueError("not an animated WebP (VP8X+ANIM+ANMF required)")
    return {"canvas": canvas, "anim": anim, "frames": frames}


def webp_anim_encode(frames: list, canvas_w: int, canvas_h: int,
                     background=(255, 255, 255, 255), loop_count: int = 0) -> bytes:
    """Mux still-WebP payloads into an animated WebP.  Each frame:
    ``{payload, x, y, duration_ms, blend, dispose}`` — offsets must be
    even (the format stores them halved)."""
    chunks = []
    vp8x = bytes([0x12, 0, 0, 0]) + bytes([
        (canvas_w - 1) & 0xFF, ((canvas_w - 1) >> 8) & 0xFF,
        ((canvas_w - 1) >> 16) & 0xFF,
        (canvas_h - 1) & 0xFF, ((canvas_h - 1) >> 8) & 0xFF,
        ((canvas_h - 1) >> 16) & 0xFF,
    ])
    chunks.append(b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x)
    anim = bytes(background) + struct.pack("<H", loop_count) + b"\x00\x00"
    chunks.append(b"ANIM" + struct.pack("<I", len(anim)) + anim)
    for f in frames:
        x, y = f.get("x", 0), f.get("y", 0)
        if x % 2 or y % 2:
            raise ValueError("ANMF offsets must be even")
        inner = f["payload"]
        if inner[:4] != b"RIFF" or inner[8:12] != b"WEBP":
            raise ValueError("frame payload must be a still WebP")
        sub = inner[12:]  # the frame's chunk list
        from .multimodal import webp_decode as _webp_decode

        meta = _webp_decode(f["payload"])  # handles VP8 and VP8L frames
        flags = (0 if f.get("blend", True) else 0x02) | (
            0x01 if f.get("dispose", False) else 0
        )
        body = (
            bytes([(x // 2) & 0xFF, ((x // 2) >> 8) & 0xFF, ((x // 2) >> 16) & 0xFF])
            + bytes([(y // 2) & 0xFF, ((y // 2) >> 8) & 0xFF, ((y // 2) >> 16) & 0xFF])
            + bytes([(meta["width"] - 1) & 0xFF, ((meta["width"] - 1) >> 8) & 0xFF,
                     ((meta["width"] - 1) >> 16) & 0xFF])
            + bytes([(meta["height"] - 1) & 0xFF, ((meta["height"] - 1) >> 8) & 0xFF,
                     ((meta["height"] - 1) >> 16) & 0xFF])
            + bytes([f.get("duration_ms", 100) & 0xFF,
                     (f.get("duration_ms", 100) >> 8) & 0xFF,
                     (f.get("duration_ms", 100) >> 16) & 0xFF])
            + bytes([flags])
            + sub
        )
        chunk = b"ANMF" + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunk += b"\x00"
        chunks.append(chunk)
    riff = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def webp_anim_composite(payload: bytes) -> "list[np.ndarray]":
    """Render every animation frame to the composited (canvas_h,
    canvas_w, 4) RGBA canvas per the container spec: the canvas starts
    fully transparent; each frame either ALPHA-BLENDS (src-over with
    straight alpha, integer arithmetic) or REPLACES its rectangle; a
    dispose-to-background frame clears its rectangle to the ANIM
    background color after rendering."""
    from .multimodal import webp_pixels

    info = webp_anim_frames(payload)
    W, H = info["canvas"]["width"], info["canvas"]["height"]
    bgr = info["anim"]["background_rgba"]
    background = np.array([bgr[2], bgr[1], bgr[0], bgr[3]], dtype=np.int32)
    canvas = np.zeros((H, W, 4), dtype=np.int32)
    out = []
    for f in info["frames"]:
        px = webp_pixels(f["payload"]).astype(np.int32)
        x, y, fw, fh = f["x"], f["y"], f["width"], f["height"]
        region = canvas[y : y + fh, x : x + fw]
        if f["blend"]:
            a = px[..., 3:4]
            dst_a = region[..., 3:4]
            out_a = a + dst_a * (255 - a) // 255
            safe = np.maximum(out_a, 1)
            rgb = (px[..., :3] * a
                   + region[..., :3] * dst_a * (255 - a) // 255) // safe
            region[..., :3] = np.where(out_a > 0, rgb, 0)
            region[..., 3:4] = out_a
        else:
            region[...] = px
        out.append(canvas.astype(np.uint8).copy())
        if f["dispose"]:
            canvas[y : y + fh, x : x + fw] = background
    return out
