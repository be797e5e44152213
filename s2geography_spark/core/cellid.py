"""Vectorized S2 cell-id math in pure NumPy (from-scratch reimplementation).

Semantics match the reference's ``op::cell`` operator suite
(/root/reference/src/s2geography/op/cell.cc:14-197, op/cell.h:20-24) and the
public S2 geometry cell-id scheme: a 64-bit id = 3 face bits + 2*level Hilbert
position bits + a trailing 1 bit marking the level.  Everything here is
vectorized over ``numpy.uint64`` arrays — this is the hot join-key path, so
no per-row Python.

Public S2 facts used (published S2 library documentation / paper):
  * cube faces 0..5, quadratic uv<->st projection,
  * 30 max levels, leaf = level 30,
  * Hilbert curve traversal with swap/invert orientation masks.

NOT a binding and NOT a copy: all code below is a NumPy re-derivation.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
I64 = np.int64

MAX_LEVEL = 30
MAX_SIZE = 1 << MAX_LEVEL  # 2^30 (ij range)

CELL_NONE = U64(0)
CELL_SENTINEL = ~U64(0)

_SWAP = 1
_INVERT = 2

# Hilbert sub-cell traversal order and orientation changes (public S2 scheme).
_POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical order
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT | _SWAP)

_LOOKUP_BITS = 4


def _build_lookup():
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)

    def init(level, i, j, orig_orient, pos, orient):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orient] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig_orient] = (ij << 2) + orient
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orient]
        for index in range(4):
            init(level, i + (r[index] >> 1), j + (r[index] & 1), orig_orient,
                 pos + index, orient ^ _POS_TO_ORIENT[index])

    for o in range(4):
        init(0, 0, 0, o, 0, o)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookup()


def _u(x):
    """Coerce to uint64 ndarray (no copy when already uint64)."""
    a = np.asarray(x)
    if a.dtype == np.int64:
        return a.view(np.uint64)
    return a.astype(np.uint64, copy=False)


# ---------------------------------------------------------------------------
# xyz <-> lng/lat (op/point.cc:14-31 semantics; degrees externally)
# ---------------------------------------------------------------------------

def lnglat_to_xyz(lng_deg, lat_deg):
    """(lng, lat) degrees -> unit xyz. Vectorized."""
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    return np.cos(lng) * cos_lat, np.sin(lng) * cos_lat, np.sin(lat)


def xyz_to_lnglat(x, y, z):
    """unit xyz -> (lng, lat) degrees. Robust atan2 form."""
    lng = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lng, lat


# ---------------------------------------------------------------------------
# face / uv / st / ij transforms (quadratic projection)
# ---------------------------------------------------------------------------

def _st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5,
                    (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def _uv_to_st(u):
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):  # np.where evaluates both branches
        return np.where(u >= 0,
                        0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def xyz_to_face_uv(x, y, z):
    """Largest-|component| face selection + per-face (u, v)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # tie-break toward higher axis index (matches public LargestAbsComponent)
    face = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)
    conds = [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5]
    # np.select evaluates every branch; non-selected faces may divide by ~0
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        u = np.select(conds, [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.select(conds, [z / x, z / y, -y / z, y / x, -x / y, -x / z])
    return face, u, v


def face_uv_to_xyz(face, u, v):
    """Inverse of xyz_to_face_uv (un-normalized)."""
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones(np.broadcast(face, u, v).shape, dtype=np.float64)
    u, v = np.broadcast_to(u, one.shape), np.broadcast_to(v, one.shape)
    # one pick per element (an invalid face, 6 or 7, gets the zeros)
    zero = np.zeros_like(one)
    x = np.choose(face, [one, -u, -u, -one, v, v, zero], mode="clip")
    y = np.choose(face, [u, one, -v, -v, -one, u, zero], mode="clip")
    z = np.choose(face, [v, v, one, -u, -u, -one, zero], mode="clip")
    return x, y, z


def _st_to_ij(s):
    return np.clip(np.floor(MAX_SIZE * np.asarray(s, dtype=np.float64)),
                   0, MAX_SIZE - 1).astype(np.int64)


# ---------------------------------------------------------------------------
# Hilbert encode / decode
# ---------------------------------------------------------------------------

def from_face_ij(face, i, j):
    """(face, i, j) -> leaf cell id.  Vectorized Hilbert encode."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    n = _u(face) << U64(60)
    bits = _u(face & _SWAP)
    for k in range(7, -1, -1):
        sh = U64(k * 4)
        bits = bits + (((_u(i) >> sh) & U64(15)) << U64(6))
        bits = bits + (((_u(j) >> sh) & U64(15)) << U64(2))
        bits = _LOOKUP_POS[bits]
        n = n | ((bits >> U64(2)) << U64(k * 8))
        bits = bits & U64(_SWAP | _INVERT)
    return n * U64(2) + U64(1)


def to_face_ij(ids):
    """cell id -> (face, i, j, orientation) of the leaf-aligned ij.

    For non-leaf cells (i, j) are the coordinates of the cell's minimum
    leaf corner per the public scheme.
    """
    ids = _u(ids)
    face = (ids >> U64(61)).astype(np.int64)
    i = np.zeros(ids.shape, dtype=np.uint64)
    j = np.zeros(ids.shape, dtype=np.uint64)
    bits = _u(face & 1)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * _LOOKUP_BITS) if k == 7 else _LOOKUP_BITS
        mask = U64((1 << (2 * nbits)) - 1)
        bits = bits + (((ids >> U64(k * 8 + 1)) & mask) << U64(2))
        bits = _LOOKUP_IJ[bits]
        i = i | ((bits >> U64(_LOOKUP_BITS + 2)) << U64(k * 4))
        j = j | (((bits >> U64(2)) & U64((1 << _LOOKUP_BITS) - 1)) << U64(k * 4))
        bits = bits & U64(_SWAP | _INVERT)
    return face, i.astype(np.int64), j.astype(np.int64), bits.astype(np.int64)


# ---------------------------------------------------------------------------
# id structure: level, lsb, parent, child, ranges
# ---------------------------------------------------------------------------

def lsb(ids):
    ids = _u(ids)
    return ids & (~ids + U64(1))


def level(ids):
    """Level 0..30; -1 for invalid (none/sentinel/even ids).

    Matches reference Level op (op/cell.cc:76-83): invalid -> -1.
    """
    ids = _u(ids)
    l = lsb(ids)
    # count trailing zeros via de-Bruijn-free approach: log2 of lsb
    with np.errstate(divide="ignore"):
        ctz = np.where(l > 0, np.round(np.log2(l.astype(np.float64))), -2).astype(np.int64)
    lev = MAX_LEVEL - (ctz >> 1)
    return np.where(is_valid(ids), lev, -1)


def is_valid(ids):
    ids = _u(ids)
    face_ok = (ids >> U64(61)) < U64(6)
    # valid iff trailing-1 bit is at an even position: lsb & 0x1555555555555555
    lsb_ok = (lsb(ids) & U64(0x1555555555555555)) != U64(0)
    return face_ok & lsb_ok


def is_leaf(ids):
    return (_u(ids) & U64(1)) != U64(0)


def lsb_for_level(lev):
    lev = np.asarray(lev, dtype=np.int64)
    return U64(1) << (U64(2) * (U64(MAX_LEVEL) - _u(lev)))


def parent(ids, lev):
    """Parent at absolute level (vectorized). No validity checks here —
    see :func:`parent_checked` for reference Parent-op semantics."""
    ids = _u(ids)
    nl = lsb_for_level(lev)
    # (id & -nl) | nl
    return (ids & (~nl + U64(1))) | nl


def parent_checked(ids, lev):
    """Reference Parent op (op/cell.cc:103-123): negative level is relative
    to the current level; out-of-range or invalid -> sentinel."""
    ids = _u(ids)
    lev = np.asarray(lev, dtype=np.int64)
    cur = level(ids)
    final = np.where(lev < 0, cur + lev, lev)
    ok = is_valid(ids) & (final >= 0) & (final <= cur)
    final_safe = np.clip(final, 0, MAX_LEVEL)
    return np.where(ok, parent(ids, final_safe), CELL_SENTINEL)


def child(ids, k):
    """k-th child (0..3); k out of range -> sentinel (op/cell.cc:125-133)."""
    ids = _u(ids)
    k = np.asarray(k, dtype=np.int64)
    nl = lsb(ids) >> U64(2)
    # id + (2*k - 3) * nl, computed with wrapping uint64 arithmetic
    off = _u(np.clip(k, 0, 3)) * U64(2) * nl
    res = ids - U64(3) * nl + off
    ok = (k >= 0) & (k <= 3) & is_valid(ids) & ~is_leaf(ids)
    return np.where(ok, res, CELL_SENTINEL)


def range_min(ids):
    ids = _u(ids)
    return ids - (lsb(ids) - U64(1))


def range_max(ids):
    ids = _u(ids)
    return ids + (lsb(ids) - U64(1))


def contains(a, b):
    """True iff cell a contains cell b (op/cell.cc:144-153); invalid -> False."""
    a, b = _u(a), _u(b)
    ok = is_valid(a) & is_valid(b)
    return ok & (b >= range_min(a)) & (b <= range_max(a))


def may_intersect(a, b):
    """Range overlap (op/cell.cc:155-164); invalid -> False."""
    a, b = _u(a), _u(b)
    ok = is_valid(a) & is_valid(b)
    return ok & (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def common_ancestor_level(a, b):
    """Level of lowest common ancestor, or -1 (op/cell.cc:188-197)."""
    a, b = _u(a), _u(b)
    bits = a ^ b
    bits = np.maximum(bits, lsb(a))
    bits = np.maximum(bits, lsb(b))
    # find position of highest set bit
    hb = np.zeros(bits.shape, dtype=np.int64)
    tmp = bits.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = tmp >= (U64(1) << U64(shift))
        hb = hb + np.where(m, shift, 0)
        tmp = np.where(m, tmp >> U64(shift), tmp)
    lev = (60 - hb) >> 1
    ok = is_valid(a) & is_valid(b) & (lev >= 0)
    return np.where(ok, lev, -1)


# ---------------------------------------------------------------------------
# point <-> cell
# ---------------------------------------------------------------------------

def from_xyz(x, y, z):
    """xyz -> leaf cell id (S2CellId(S2Point) semantics)."""
    face, u, v = xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    return from_face_ij(face, i, j)


def from_lnglat(lng_deg, lat_deg, lev=None):
    """(lng, lat) degrees -> cell id (leaf, or parent at ``lev``)."""
    x, y, z = lnglat_to_xyz(lng_deg, lat_deg)
    ids = from_xyz(x, y, z)
    if lev is not None and lev != MAX_LEVEL:
        ids = parent(ids, lev)
    return ids


def center_st(ids):
    """(face, s, t) of the cell center (GetCenterSiTi semantics)."""
    ids = _u(ids)
    face, i, j, _ = to_face_ij(ids)
    leaf = is_leaf(ids)
    # delta: leaf -> 1; else 2 if Hilbert parity says the center is at the
    # +ve corner else 0 (public GetCenterSiTi rule).
    parity = ((i ^ (ids >> U64(2)).astype(np.int64)) & 1) != 0
    delta = np.where(leaf, 1, np.where(parity, 2, 0)).astype(np.int64)
    si = 2 * i + delta
    ti = 2 * j + delta
    s = si.astype(np.float64) / (2.0 * MAX_SIZE)
    t = ti.astype(np.float64) / (2.0 * MAX_SIZE)
    return face, s, t


def to_xyz(ids):
    """cell id -> unit-xyz center; invalid -> NaN (op/cell.cc:31-46)."""
    ids = _u(ids)
    face, s, t = center_st(ids)
    x, y, z = face_uv_to_xyz(face, _st_to_uv(s), _st_to_uv(t))
    n = np.sqrt(x * x + y * y + z * z)
    ok = is_valid(ids)
    nan = np.float64(np.nan)
    return (np.where(ok, x / n, nan), np.where(ok, y / n, nan),
            np.where(ok, z / n, nan))


def to_lnglat(ids):
    x, y, z = to_xyz(ids)
    return xyz_to_lnglat(x, y, z)


def cell_vertices_xyz(ids):
    """All 4 vertices of each cell, shape (n, 4, 3); CCW order.

    Vertex k of a cell is the uv-rect corner in (lower-left, lower-right,
    upper-right, upper-left) order of the canonical S2Cell::GetVertex.
    """
    ids = np.atleast_1d(_u(ids))
    face, i, j, _ = to_face_ij(ids)
    lev = level(ids)
    size = np.where(lev >= 0, np.int64(1) << np.clip((MAX_LEVEL - lev), 0, 63).astype(np.int64), 0)
    # to_face_ij returns the center-leaf ij; mask to the cell's min corner
    ij_lo_i = i & ~(size - 1)
    ij_lo_j = j & ~(size - 1)
    # uv bounds from ij bounds via st
    s_lo = ij_lo_i.astype(np.float64) / MAX_SIZE
    s_hi = (ij_lo_i + size).astype(np.float64) / MAX_SIZE
    t_lo = ij_lo_j.astype(np.float64) / MAX_SIZE
    t_hi = (ij_lo_j + size).astype(np.float64) / MAX_SIZE
    u_lo, u_hi = _st_to_uv(s_lo), _st_to_uv(s_hi)
    v_lo, v_hi = _st_to_uv(t_lo), _st_to_uv(t_hi)
    us = np.stack([u_lo, u_hi, u_hi, u_lo], axis=-1)  # (n,4)
    vs = np.stack([v_lo, v_lo, v_hi, v_hi], axis=-1)
    f4 = np.repeat(face[:, None], 4, axis=1)
    x, y, z = face_uv_to_xyz(f4, us, vs)
    with np.errstate(invalid="ignore", divide="ignore"):  # invalid cells -> NaN rows
        norm = np.sqrt(x * x + y * y + z * z)
        return np.stack([x / norm, y / norm, z / norm], axis=-1)  # (n,4,3)


# ---------------------------------------------------------------------------
# token / debug string (op/cell.cc:14-23, 40-48)
# ---------------------------------------------------------------------------

def to_token(ids):
    """uint64 -> hex token with trailing zeros stripped; 'X' for id 0."""
    ids = np.atleast_1d(_u(ids))
    out = []
    for v in ids.tolist():
        if v == 0:
            out.append("X")
        else:
            h = format(v, "016x").rstrip("0")
            out.append(h if h else "X")
    return np.array(out, dtype=object)


def from_token(tokens):
    """Inverse of to_token; invalid -> CELL_NONE."""
    out = np.zeros(len(tokens), dtype=np.uint64)
    for idx, t in enumerate(tokens):
        if t is None:
            continue
        t = str(t)
        if t in ("X", "x"):
            out[idx] = 0
            continue
        if 0 < len(t) <= 16:
            try:
                out[idx] = U64(int(t.ljust(16, "0"), 16))
            except ValueError:
                out[idx] = 0
    return out


def to_debug_string(ids):
    """'face/pos-digits' form, e.g. '2/03131...' ; invalid -> 'Invalid: 0x...'."""
    ids = np.atleast_1d(_u(ids))
    lev = level(ids)
    faces = (ids >> U64(61)).astype(np.int64)
    out = []
    for v, f, l in zip(ids.tolist(), faces.tolist(), lev.tolist()):
        if l < 0 or f > 5:
            out.append(f"Invalid: 0x{v:016x}")
            continue
        digits = []
        for k in range(1, l + 1):
            digits.append(str((v >> (2 * (MAX_LEVEL - k) + 1)) & 3))
        out.append(f"{f}/{''.join(digits)}")
    return np.array(out, dtype=object)


def from_debug_string(strings):
    out = np.zeros(len(strings), dtype=np.uint64)
    for idx, s in enumerate(strings):
        if s is None:
            continue
        s = str(s)
        if len(s) < 2 or s[1] != "/" or s[0] not in "012345":
            continue
        face = int(s[0])
        digits = s[2:]
        if len(digits) > MAX_LEVEL or any(c not in "0123" for c in digits):
            continue
        cid = (face << 61) | (1 << 60)
        # descend: id = face-cell, then child(digit) repeatedly
        v = np.array([cid], dtype=np.uint64)
        for c in digits:
            nl = lsb(v) >> U64(2)
            v = v - U64(3) * nl + U64(2 * int(c)) * nl
        out[idx] = v[0]
    return out


# ---------------------------------------------------------------------------
# area / distance (op/cell.cc:85-101, 166-186)
# ---------------------------------------------------------------------------

def _triangle_area(a, b, c):
    """Signed-less spherical triangle area (Girard via Oosterom-Strackee).

    a, b, c: (..., 3) unit vectors -> area in steradians (always >= 0).
    """
    num = np.abs(np.einsum("...i,...i->...", a, np.cross(b, c)))
    den = 1.0 + np.einsum("...i,...i->...", a, b) \
        + np.einsum("...i,...i->...", b, c) \
        + np.einsum("...i,...i->...", c, a)
    return 2.0 * np.arctan2(num, den)


def cell_area(ids):
    """Exact cell area (steradians); invalid -> NaN."""
    ids = np.atleast_1d(_u(ids))
    vtx = cell_vertices_xyz(ids)
    area = _triangle_area(vtx[:, 0], vtx[:, 1], vtx[:, 2]) + \
        _triangle_area(vtx[:, 0], vtx[:, 2], vtx[:, 3])
    return np.where(is_valid(ids), area, np.nan)


def cell_area_approx(ids):
    """S2Cell::ApproxArea semantics: levels 0-1 -> average area; else
    flat quad area with spherical correction."""
    ids = np.atleast_1d(_u(ids))
    lev = level(ids)
    avg = (4.0 * np.pi / 6.0) / np.power(4.0, np.maximum(lev, 0))
    vtx = cell_vertices_xyz(ids)
    flat = 0.5 * np.linalg.norm(
        np.cross(vtx[:, 2] - vtx[:, 0], vtx[:, 3] - vtx[:, 1]), axis=-1)
    corrected = flat * 2.0 / (1.0 + np.sqrt(1.0 - np.minimum(flat / np.pi, 1.0)))
    out = np.where(lev < 2, avg, corrected)
    return np.where(is_valid(ids), out, np.nan)


def _point_to_arc_dist(p, a, b):
    """Min angle from points p (...,3) to geodesic arc (a, b) (...,3)."""
    # perpendicular distance valid if projection falls inside the arc
    n = np.cross(a, b)  # normal of great circle
    nn = np.linalg.norm(n, axis=-1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        nu = n / np.where(nn == 0, 1.0, nn)
    # is closest point within arc? use the criterion: p is "between" the
    # half-planes at a and b:  (n x a)·p >= 0 and (b x n)·p >= 0
    in_a = np.einsum("...i,...i->...", np.cross(n, a), p) >= 0
    in_b = np.einsum("...i,...i->...", np.cross(b, n), p) >= 0
    sin_perp = np.abs(np.einsum("...i,...i->...", nu, p))
    perp = np.arcsin(np.clip(sin_perp, -1.0, 1.0))
    da = _angle(p, a)
    db = _angle(p, b)
    end = np.minimum(da, db)
    degen = (nn[..., 0] == 0)
    return np.where(~degen & in_a & in_b, perp, end)


def _angle(a, b):
    """Robust angle between unit vectors (..., 3)."""
    cr = np.linalg.norm(np.cross(a, b), axis=-1)
    dt = np.einsum("...i,...i->...", a, b)
    return np.arctan2(cr, dt)


def _sign(a, b, c):
    """Orientation of spherical triangle: sign of det[a b c]."""
    return np.sign(np.einsum("...i,...i->...", a, np.cross(b, c)))


def _arcs_cross(a, b, c, d):
    """True where geodesic arcs ab and cd cross at an interior point."""
    acb = _sign(a, c, b)
    bda = _sign(b, d, a)
    cbd = _sign(c, b, d)
    dac = _sign(d, a, c)
    return (acb == bda) & (acb == cbd) & (acb == dac) & (acb != 0)


def cell_distance(a_ids, b_ids):
    """Min distance (radians) between two cells; invalid -> NaN.

    Matches S2Cell::GetDistance semantics (op/cell.cc:166-175): 0 when the
    cells overlap, else min over edge-pair / vertex distances.
    """
    a_ids = np.atleast_1d(_u(a_ids))
    b_ids = np.atleast_1d(_u(b_ids))
    va = cell_vertices_xyz(a_ids)  # (n,4,3)
    vb = cell_vertices_xyz(b_ids)
    d = _min_quad_dist(va, vb)
    d = np.where(may_intersect(a_ids, b_ids), 0.0, d)
    ok = is_valid(a_ids) & is_valid(b_ids)
    return np.where(ok, d, np.nan)


def _min_quad_dist(va, vb):
    """Min distance between two spherical quads given (n,4,3) vertices."""
    n = va.shape[0]
    # edges: (v[k], v[(k+1)%4])
    ea0 = va
    ea1 = va[:, [1, 2, 3, 0]]
    eb0 = vb
    eb1 = vb[:, [1, 2, 3, 0]]
    # crossings: (n,4,4)
    A0 = ea0[:, :, None, :]
    A1 = ea1[:, :, None, :]
    B0 = eb0[:, None, :, :]
    B1 = eb1[:, None, :, :]
    crossed = _arcs_cross(A0, A1, B0, B1).any(axis=(1, 2))
    # vertex-to-edge distances both directions
    d1 = _point_to_arc_dist(va[:, :, None, :], eb0[:, None, :, :],
                            eb1[:, None, :, :]).min(axis=(1, 2))
    d2 = _point_to_arc_dist(vb[:, :, None, :], ea0[:, None, :, :],
                            ea1[:, None, :, :]).min(axis=(1, 2))
    d = np.minimum(d1, d2)
    return np.where(crossed, 0.0, d)


def cell_max_distance(a_ids, b_ids):
    """Max distance (radians): pi - min_distance(a, -b); invalid -> NaN."""
    a_ids = np.atleast_1d(_u(a_ids))
    b_ids = np.atleast_1d(_u(b_ids))
    va = cell_vertices_xyz(a_ids)
    vb = -cell_vertices_xyz(b_ids)  # antipodal reflection (reverses CCW; fine for distance)
    d = _min_quad_dist(va, vb)
    # overlap with reflected quad -> distance 0 -> max = pi; _min_quad_dist
    # already returns 0 on edge crossings; also handle full containment:
    cont = _quad_contains_point(va, vb[:, 0, :]) | _quad_contains_point(vb, va[:, 0, :])
    d = np.where(cont, 0.0, d)
    ok = is_valid(a_ids) & is_valid(b_ids)
    return np.where(ok, np.pi - d, np.nan)


def _quad_contains_point(v, p):
    """True where point p (n,3) is inside the spherical quad v (n,4,3).

    Orientation-aware: each edge's required side is the side the quad's
    own interior point (normalized vertex mean — inside, since cells are
    convex and smaller than a hemisphere) lies on.  A plain "all vertices
    same side" test also accepts the ANTIPODAL mirror of the quad (every
    sign flips consistently), which made cell_max_distance(A, A) return
    pi instead of the cell diameter."""
    e0 = v
    e1 = v[:, [1, 2, 3, 0]]
    ctr = v.mean(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        ctr = ctr / np.linalg.norm(ctr, axis=-1, keepdims=True)
    s_in = _sign(e0, e1, ctr[:, None, :])
    s = _sign(e0, e1, p[:, None, :])
    return (s * s_in >= 0).all(axis=1)


# ---------------------------------------------------------------------------
# edge neighbors (op/cell.cc:135-142)
# ---------------------------------------------------------------------------

def _from_face_ij_wrap(face, i, j):
    """Cross-face wrap (public FromFaceIJWrap): leaf ids for (face, i, j)
    that may lie one step off the face, via the linear uv projection onto
    the neighbouring face.  Vectorized."""
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = np.clip(scale * (2 * (i - MAX_SIZE // 2) + 1), -limit, limit)
    v = np.clip(scale * (2 * (j - MAX_SIZE // 2) + 1), -limit, limit)
    nf, nu, nv = xyz_to_face_uv(*face_uv_to_xyz(face, u, v))
    ni = np.clip(np.floor(MAX_SIZE * (0.5 * (nu + 1.0))), 0, MAX_SIZE - 1)
    nj = np.clip(np.floor(MAX_SIZE * (0.5 * (nv + 1.0))), 0, MAX_SIZE - 1)
    return from_face_ij(nf, ni.astype(np.int64), nj.astype(np.int64))


def edge_neighbors(ids):
    """4 edge neighbors per cell, shape (n, 4): down, right, up, left.

    Same-level neighbors; cross-face wrapping handled per the public
    FromFaceIJWrap linear projection.  Invalid ids get sentinel rows."""
    ids = np.atleast_1d(_u(ids))
    face, i, j, _ = to_face_ij(ids)
    lev = level(ids)
    ok = lev >= 0
    face, lev = np.where(ok, face, 0), np.where(ok, lev, MAX_LEVEL)
    size = np.int64(1) << (MAX_LEVEL - lev)
    ci = i[:, None] + size[:, None] * np.array([0, 1, 0, -1])
    cj = j[:, None] + size[:, None] * np.array([-1, 0, 1, 0])
    f = np.broadcast_to(face[:, None], ci.shape)
    inside = (ci >= 0) & (ci < MAX_SIZE) & (cj >= 0) & (cj < MAX_SIZE)
    leaf = np.empty(ci.shape, dtype=np.uint64)
    leaf[inside] = from_face_ij(f[inside], ci[inside], cj[inside])
    off = ~inside
    if off.any():
        leaf[off] = _from_face_ij_wrap(f[off], ci[off], cj[off])
    out = parent(leaf, np.broadcast_to(lev[:, None], ci.shape))
    out[~ok] = CELL_SENTINEL
    return out
