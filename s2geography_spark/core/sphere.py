"""Vectorized spherical (geodesic) geometry kernels in pure NumPy.

From-scratch reimplementation of the semantics of the reference's predicate /
accessor / distance kernels (see /root/reference/src/s2geography/predicates.cc,
accessors.cc, distance.cc).  All coordinates are unit xyz vectors internally,
lon/lat degrees externally; edges are geodesics on the unit sphere.

Earth radius is pinned to the reference's constant so distance goldens match:
``s2geography`` uses S2Earth::RadiusMeters() = 6371010.0 m
(/root/reference/src/s2geography/distance_test.cc:37, accessors.cc:288).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_METERS = 6371010.0

_DEG = np.pi / 180.0


# ---------------------------------------------------------------------------
# basic vector ops — all accept (..., 3) arrays
# ---------------------------------------------------------------------------

def lnglat_to_xyz(lnglat):
    """(..., 2) lon/lat degrees -> (..., 3) unit xyz."""
    ll = np.asarray(lnglat, dtype=np.float64)
    lng = ll[..., 0] * _DEG
    lat = ll[..., 1] * _DEG
    cl = np.cos(lat)
    return np.stack([np.cos(lng) * cl, np.sin(lng) * cl, np.sin(lat)], axis=-1)


def xyz_to_lnglat(p):
    p = np.asarray(p, dtype=np.float64)
    # + 0.0 normalizes IEEE -0.0 to +0.0 (stable WKT/hash output)
    lng = np.arctan2(p[..., 1], p[..., 0]) / _DEG + 0.0
    lat = np.arctan2(p[..., 2], np.hypot(p[..., 0], p[..., 1])) / _DEG + 0.0
    return np.stack([lng, lat], axis=-1)


def dot(a, b):
    return np.einsum("...i,...i->...", a, b)


def angle(a, b):
    """Robust angle (radians) between unit vectors."""
    return np.arctan2(np.linalg.norm(np.cross(a, b), axis=-1), dot(a, b))


def normalize(v):
    n = np.linalg.norm(v, axis=-1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(n > 0, v / np.where(n == 0, 1.0, n), v)


def sign(a, b, c):
    """Orientation of (a, b, c): sign of det[a b c]."""
    return np.sign(dot(a, np.cross(b, c)))


def arcs_cross(a, b, c, d):
    """True where geodesic arcs ab and cd cross at an interior point.

    Rule (validated numerically against great-circle intersection): the four
    orientations sign(a,c,b), sign(b,d,a), sign(c,b,d), sign(d,a,c) are all
    equal and nonzero. Mirrors the semantics of the public CrossingSign test
    used by the reference's brute-force edge path (predicates.cc:189-281).
    """
    acb = sign(a, c, b)
    bda = sign(b, d, a)
    cbd = sign(c, b, d)
    dac = sign(d, a, c)
    return (acb == bda) & (acb == cbd) & (acb == dac) & (acb != 0)


def point_arc_distance(p, a, b):
    """Min angle (radians) from p to geodesic arc (a, b). Broadcasts."""
    n = np.cross(a, b)
    nn = np.linalg.norm(n, axis=-1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        nu = n / np.where(nn == 0, 1.0, nn)
    in_a = dot(np.cross(n, a), p) >= 0
    in_b = dot(np.cross(b, n), p) >= 0
    perp = np.arcsin(np.clip(np.abs(dot(nu, p)), -1.0, 1.0))
    end = np.minimum(angle(p, a), angle(p, b))
    degen = nn[..., 0] == 0
    return np.where(~degen & in_a & in_b, perp, end)


def arc_arc_distance(a, b, c, d):
    """Min angle between geodesic arcs; 0 if they cross."""
    dists = np.stack([
        point_arc_distance(a, c, d),
        point_arc_distance(b, c, d),
        point_arc_distance(c, a, b),
        point_arc_distance(d, a, b),
    ], axis=-1).min(axis=-1)
    return np.where(arcs_cross(a, b, c, d), 0.0, dists)


def arc_interpolate(a, b, t):
    """Point at fraction t along arc (a, b) (slerp)."""
    th = angle(a, b)
    t = np.asarray(t, dtype=np.float64)
    sin_th = np.sin(th)
    with np.errstate(invalid="ignore", divide="ignore"):
        wa = np.where(sin_th > 0, np.sin((1.0 - t) * th) / sin_th, 1.0 - t)
        wb = np.where(sin_th > 0, np.sin(t * th) / sin_th, t)
    return normalize(wa[..., None] * np.asarray(a) + wb[..., None] * np.asarray(b))


def closest_point_on_arc(p, a, b):
    """Closest point on arc (a, b) to p (S2::Project semantics)."""
    p = np.asarray(p, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n = np.cross(a, b)
    nn = np.linalg.norm(n, axis=-1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        # projection of p onto the great-circle plane
        proj = normalize(p - (dot(n, p) / np.where(nn[..., 0] == 0, 1.0, nn[..., 0] ** 2))[..., None] * n)
    in_a = dot(np.cross(n, a), proj) >= 0
    in_b = dot(np.cross(b, n), proj) >= 0
    use_proj = (nn[..., 0] > 0) & in_a & in_b
    da = angle(p, a)
    db = angle(p, b)
    end = np.where((da <= db)[..., None], a, b)
    return np.where(use_proj[..., None], proj, end)


# ---------------------------------------------------------------------------
# winding-number point-in-polygon (vectorized over points)
# ---------------------------------------------------------------------------

def winding_number(pts, ring_edges_a, ring_edges_b):
    """Total winding of a set of directed edges around each point.

    pts: (n, 3); ring edges: (m, 3) each (edges from all rings concatenated,
    each ring closed).  Returns (n,) int winding (CCW shells +1, CW holes -1).

    Method: sum of signed tangent-plane turn angles — equals 2*pi*winding for
    closed rings.  O(n*m) vectorized; callers chunk for memory.
    """
    turns = turn_angles(pts[:, None, :], ring_edges_a[None, :, :],
                        ring_edges_b[None, :, :])  # (n, m)
    w = turns.sum(axis=1) / (2.0 * np.pi)
    return np.rint(w).astype(np.int64)


def turn_angles(p, a, b):
    """Signed tangent-plane turn angle at p of each directed edge a -> b
    (the terms of winding_number). Broadcasts."""
    da = a - dot(a, p)[..., None] * p
    db = b - dot(b, p)[..., None] * p
    cross_ab = np.cross(da, db)
    s = dot(cross_ab, p)
    c = dot(da, db)
    return np.arctan2(s, c)


def point_on_boundary(pts, edges_a, edges_b, eps=1e-15):
    """True where a point lies (within eps radians) on any edge."""
    p = pts[:, None, :]
    a = edges_a[None, :, :]
    b = edges_b[None, :, :]
    d = point_arc_distance(p, a, b)  # (n, m)
    return (d <= eps).any(axis=1)


# points per batch of the (point x edge) kernels, which bounds their
# temporaries; the ragged ones batch their (point, edge) pairs the same way
CHUNK = 4096


def contains_points(pts, edges_a, edges_b, model="semi_open", eps=1e-15,
                    chunk=CHUNK):
    """Point-in-polygon for many points vs one polygon's ring edge set.

    model: 'open' boundary excluded / 'closed' boundary included /
    'semi_open' (default; interior via winding, boundary treated as
    contained — matches the reference's observable fixture behavior for
    interior/exterior points; exact S2 vertex-model tie-breaking on shared
    vertices is NOT reproduced, mirroring predicates.cc:387-409 semantics
    only for non-degenerate inputs).
    """
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    out = np.zeros(n, dtype=bool)
    for lo in range(0, n, chunk):
        sl = slice(lo, min(lo + chunk, n))
        w = winding_number(pts[sl], edges_a, edges_b)
        inside = w > 0
        if model == "open":
            onb = point_on_boundary(pts[sl], edges_a, edges_b, eps)
            inside = inside & ~onb
        elif model in ("closed", "semi_open"):
            onb = point_on_boundary(pts[sl], edges_a, edges_b, eps)
            inside = inside | onb
        out[sl] = inside
    return out


# ---------------------------------------------------------------------------
# bounding caps (a conservative prefilter before the exact kernels)
# ---------------------------------------------------------------------------

# slack of the cap tests, radians: the exact kernels' rounding can report
# a boundary contact of arcs this far apart (1e-15 / arc length for arcs
# down to ~1e-9 rad), so caps this close are still tested
CAP_SLACK = 1e-6
# bound on the rounding error of sign()'s determinant of unit vectors,
# with a 10x margin
DET_EPS = 1e-14


def arc_caps(a, b):
    """(centre, angular radius) of a cap holding each arc a -> b: its
    normalized midpoint and half its length; radius pi where a and b are
    nearly antipodal (no reliable midpoint)."""
    m = a + b
    n = np.linalg.norm(m, axis=-1)
    ok = n > CAP_SLACK
    centre = m / np.where(ok, n, 1.0)[..., None]
    return centre, np.where(ok, 0.5 * angle(a, b), np.pi)


def convex_caps(v):
    """(centre, angular radius) of a cap holding each convex spherical
    polygon v (..., k, 3), radius < pi/2: the normalized vertex sum and
    the largest angle to a vertex (such a cap is convex, so it holds the
    polygon's geodesic hull)."""
    centre = normalize(v.sum(axis=-2))
    return centre, angle(centre[..., None, :], v).max(axis=-1)


def caps_meet(c1, r1, c2, r2):
    """Whether caps (c1, r1) and (c2, r2) may touch, conservatively: the
    chord between the centres against the sum of the radii, CAP_SLACK
    added.  False guarantees the exact kernels find no crossing and no
    boundary contact between what the caps hold."""
    d = np.linalg.norm(c1 - c2, axis=-1)
    return d <= 2.0 * np.sin(np.minimum(r1 + r2, np.pi) / 2.0) + CAP_SLACK


def arc_planes(a, b):
    """(unit normal, slack) of each arc's great circle: the slack, in
    radians, is how far off the circle a point may lie and still get a
    rounded-wrong sign() against the arc (CAP_SLACK added; pi for a
    degenerate arc)."""
    n = np.cross(a, b)
    nn = np.linalg.norm(n, axis=-1)
    with np.errstate(divide="ignore"):
        slack = np.where(nn > 0, DET_EPS / nn + CAP_SLACK, np.pi)
    return n / np.where(nn > 0, nn, 1.0)[..., None], slack


def near_plane(p, n, slack):
    """Whether the point p lies within `slack` radians of the great circle
    with unit normal n."""
    return np.abs(dot(p, n)) <= np.sin(np.minimum(slack, np.pi / 2))


def ragged_rows(lo, cnt):
    """Flatten ragged (query, item) pairs: query i owns the items lo[i] ..
    lo[i] + cnt[i] - 1.  Returns the query index and the item index of
    every pair, queries in order."""
    cnt = np.asarray(cnt, dtype=np.int64)
    qi = np.repeat(np.arange(len(cnt)), cnt)
    item = np.repeat(np.asarray(lo, dtype=np.int64) - (np.cumsum(cnt) - cnt),
                     cnt) + np.arange(len(qi))
    return qi, item


def winding_number_ragged(pts, lo, cnt, edges_a, edges_b):
    """winding_number for many points, each against its own edge run:
    point i against edges lo[i] .. lo[i] + cnt[i] - 1 (0 without edges).
    Per point the same terms and the same pairwise sum as
    winding_number, so the answers are identical."""
    n = len(pts)
    out = np.zeros(n, dtype=np.int64)
    for s0 in range(0, n, CHUNK):
        sl = slice(s0, min(s0 + CHUNK, n))
        c = cnt[sl]
        qi, ei = ragged_rows(lo[sl], c)
        if len(qi) == 0:
            continue
        has = c > 0
        w = np.zeros(len(c))
        w[has] = np.add.reduceat(
            turn_angles(pts[sl][qi], edges_a[ei], edges_b[ei]),
            (np.cumsum(c) - c)[has])
        out[sl] = np.rint(w / (2.0 * np.pi)).astype(np.int64)
    return out


# ---------------------------------------------------------------------------
# ring measures
# ---------------------------------------------------------------------------

def ring_signed_area(ring_xyz):
    """Signed spherical area (steradians) of a closed ring (m, 3).

    CCW (interior on left) -> positive. Fan decomposition from vertex 0 with
    the signed Oosterom-Strackee excess; exact for simple rings.
    """
    v = np.asarray(ring_xyz, dtype=np.float64)
    if len(v) < 3:
        return 0.0
    a = v[0]
    b = v[1:-1]
    c = v[2:]
    num = dot(np.broadcast_to(a, b.shape), np.cross(b, c))
    den = 1.0 + dot(np.broadcast_to(a, b.shape), b) + dot(b, c) + c @ a
    return float((2.0 * np.arctan2(num, den)).sum())


def polyline_length(line_xyz):
    """Sum of arc angles (radians) along a polyline (m, 3)."""
    v = np.asarray(line_xyz, dtype=np.float64)
    if len(v) < 2:
        return 0.0
    return float(angle(v[:-1], v[1:]).sum())


def ring_centroid(ring_xyz):
    """Un-normalized area-weighted true centroid of a ring's interior.

    Fan of spherical triangles from vertex 0; each triangle contributes the
    public S2 'true centroid' integral (signed by orientation).
    """
    v = np.asarray(ring_xyz, dtype=np.float64)
    if len(v) < 3:
        return np.zeros(3)
    a = np.broadcast_to(v[0], (len(v) - 2, 3))
    b = v[1:-1]
    c = v[2:]
    return triangle_true_centroid(a, b, c).sum(axis=0)


def triangle_true_centroid(a, b, c):
    """Signed surface-integral centroid of spherical triangles (n, 3) each.

    Formula (public S2::TrueCentroid): with angular edge lengths sa=|bc|,
    sb=|ca|, sc=|ab| and r* = s*/sin(s*), centroid = 0.5 * (Y x Z . r,
    Z x X . r, X x Y . r) where X/Y/Z collect the x/y/z coords of (a, b, c).
    Result is signed by triangle orientation.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    sa = angle(b, c)
    sb = angle(c, a)
    sc = angle(a, b)
    with np.errstate(invalid="ignore", divide="ignore"):
        ra = np.where(sa > 0, sa / np.sin(sa), 1.0)
        rb = np.where(sb > 0, sb / np.sin(sb), 1.0)
        rc = np.where(sc > 0, sc / np.sin(sc), 1.0)
    x = np.stack([a[..., 0], b[..., 0], c[..., 0]], axis=-1)
    y = np.stack([a[..., 1], b[..., 1], c[..., 1]], axis=-1)
    z = np.stack([a[..., 2], b[..., 2], c[..., 2]], axis=-1)
    r = np.stack([ra, rb, rc], axis=-1)
    out = 0.5 * np.stack([
        dot(np.cross(y, z), r),
        dot(np.cross(z, x), r),
        dot(np.cross(x, y), r),
    ], axis=-1)
    # orientation sign: the formula above integrates over the oriented
    # triangle; it is already signed via the cross products.
    return out


def arc_true_centroid(a, b):
    """Un-normalized length-weighted centroid of arcs: (a+b)*tan(theta/2)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    th = angle(a, b)
    return (a + b) * np.tan(th / 2.0)[..., None]


# ---------------------------------------------------------------------------
# bounding boxes with geodesic-bulge handling
# ---------------------------------------------------------------------------

def edge_lat_bounds(a, b):
    """(min_lat, max_lat) radians attained along geodesic arcs a->b (n,3)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    lat_a = np.arcsin(np.clip(a[..., 2], -1, 1))
    lat_b = np.arcsin(np.clip(b[..., 2], -1, 1))
    lo = np.minimum(lat_a, lat_b)
    hi = np.maximum(lat_a, lat_b)
    n = np.cross(a, b)
    nn = np.linalg.norm(n, axis=-1)
    with np.errstate(invalid="ignore", divide="ignore"):
        nz = np.where(nn > 0, n[..., 2] / nn, 1.0)
    # extreme |lat| of the full great circle: pi/2 - |angle between n and z|
    max_abs = np.arccos(np.clip(np.abs(nz), -1, 1))
    # northernmost point of the great circle: m = normalize(z - (n.z)n) side
    zhat = np.zeros_like(a)
    zhat[..., 2] = 1.0
    north = normalize(np.cross(n, np.cross(zhat, n)))
    on_arc_n = (dot(np.cross(n, a), north) >= 0) & (dot(np.cross(b, n), north) >= 0)
    south = -north
    on_arc_s = (dot(np.cross(n, a), south) >= 0) & (dot(np.cross(b, n), south) >= 0)
    hi = np.where(on_arc_n & (nn > 0), np.maximum(hi, max_abs), hi)
    lo = np.where(on_arc_s & (nn > 0), np.minimum(lo, -max_abs), lo)
    return lo, hi
