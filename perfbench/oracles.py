"""Independent NumPy oracles for every workload's outputs.

Each oracle recomputes the answer from the generated inputs with planar,
closed-form or brute-force arithmetic — never through the package's
kernels — so a wrong answer from the engine cannot be hidden by the same
bug in the check.

Exactness: every synthetic point sits on a 0.25-degree grid offset by
0.125 or 0.25 degrees, and every region is an integer-degree rectangle
whose edges are densified to 1-degree steps (the spherical polygon stays
within ~2e-4 degrees of the planar rectangle), so the planar range test is
exact for all of them.
"""

from __future__ import annotations

import math

import numpy as np

EARTH_R = 6371010.0
N_CITIES = 240
MAX_MERCATOR_LAT = 85.05112877980659


def region_corners(r):
    """The region dim's integer corner arithmetic, restated."""
    r = np.asarray(r, dtype=np.int64)
    c = (r * 7) % 240
    lng0 = ((c * 37) % 300) - 150
    lat0 = ((c * 23) % 130) - 65
    return (lng0.astype(float), lat0.astype(float),
            (lng0 + 3 + r % 7).astype(float), (lat0 + 2 + r % 5).astype(float))


def city_lnglat(k):
    k = np.asarray(k, dtype=np.int64)
    return ((k * 37) % 720) / 2.0 - 180.0 + 0.25, ((k * 23) % 320) / 2.0 - 80.0 + 0.25


def mention_city_counts(first_page: int, n_pages: int) -> np.ndarray:
    """Mentions per gazetteer city for pages [first_page, first_page+n):
    page p names (p % 6) cities, the j-th being (p*31 + j*17) % 240."""
    ids = np.arange(first_page, first_page + n_pages, dtype=np.int64)
    counts = np.zeros(N_CITIES, dtype=np.int64)
    for j in range(5):
        sel = ids[ids % 6 > j]
        counts += np.bincount((sel * 31 + j * 17) % N_CITIES,
                              minlength=N_CITIES)
    return counts


def inside_matrix(lng, lat, n_regions: int) -> np.ndarray:
    """(points, regions) bool: point strictly inside the rectangle."""
    l0, t0, l1, t1 = region_corners(np.arange(n_regions))
    lng = np.asarray(lng, float)[:, None]
    lat = np.asarray(lat, float)[:, None]
    return (lng > l0) & (lng < l1) & (lat > t0) & (lat < t1)


def region_counts(lng, lat, n_regions: int, weights=None,
                  chunk: int = 200_000) -> dict[int, int]:
    """{region_id: number of (weighted) points inside}, zero rows omitted.
    Grid points repeat, so each distinct point is tested once."""
    pts = np.ascontiguousarray(np.stack([np.asarray(lng, float),
                                         np.asarray(lat, float)], axis=1))
    w = np.ones(len(pts), np.int64) if weights is None \
        else np.asarray(weights, np.int64)
    uniq, inv = np.unique(pts.view(np.complex128)[:, 0], return_inverse=True)
    w = np.bincount(inv.ravel(), weights=w, minlength=len(uniq)).astype(np.int64)
    tot = np.zeros(n_regions, np.int64)
    for s in range(0, len(uniq), chunk):
        u = uniq[s:s + chunk]
        tot += w[s:s + chunk] @ inside_matrix(u.real, u.imag, n_regions)
    return {int(r): int(c) for r, c in enumerate(tot) if c}


def sparse_join_counts(first_page: int, n_pages: int,
                       n_regions: int) -> dict[int, int]:
    lng, lat = city_lnglat(np.arange(N_CITIES))
    return region_counts(lng, lat, n_regions,
                         weights=mention_city_counts(first_page, n_pages))


def haversine_m(lng1, lat1, lng2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dl = np.radians(np.asarray(lng2) - np.asarray(lng1))
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def region_centers(n_regions: int):
    l0, t0, l1, t1 = region_corners(np.arange(n_regions))
    return (l0 + l1) / 2.0, (t0 + t1) / 2.0


def check_dwithin(pairs, pid, lng, lat, n_regions: int, radius_m: float,
                  rel_band: float = 1e-6) -> str:
    """'' when the engine's (pid, region) pairs equal the brute-force
    haversine answer; pairs within rel_band of the radius may go either
    way (the engine's distance kernel differs in the last digits)."""
    clng, clat = region_centers(n_regions)
    d = haversine_m(np.asarray(lng)[:, None], np.asarray(lat)[:, None],
                    clng[None, :], clat[None, :])
    sure = {(int(pid[i]), int(r)) for i, r in zip(*np.nonzero(
        d <= radius_m * (1 - rel_band)))}
    maybe = {(int(pid[i]), int(r)) for i, r in zip(*np.nonzero(
        np.abs(d - radius_m) <= radius_m * rel_band))}
    got = {(int(a), int(b)) for a, b in pairs}
    missing = sure - got
    extra = got - sure - maybe
    if missing or extra:
        return f"dwithin: {len(missing)} missing, {len(extra)} extra pairs"
    return ""


def check_knn(rows, pid, lng, lat, n_regions: int, k: int,
              rel_tol: float = 1e-7) -> str:
    """rows: (pid, rank, region_id).  Each point's returned regions must be
    exactly k, ranked 1..k, and their true distances must equal the
    brute-force k smallest (so ties may resolve either way)."""
    clng, clat = region_centers(n_regions)
    d = haversine_m(np.asarray(lng)[:, None], np.asarray(lat)[:, None],
                    clng[None, :], clat[None, :])
    best = np.sort(d, axis=1)[:, :k]
    index = {int(p): i for i, p in enumerate(pid)}
    by_point: dict[int, list] = {}
    for p, rank, rid in rows:
        by_point.setdefault(int(p), []).append((int(rank), int(rid)))
    if set(by_point) != set(index):
        return f"knn: {len(set(index) ^ set(by_point))} points missing/extra"
    for p, got in by_point.items():
        got.sort()
        if [r for r, _ in got] != list(range(1, k + 1)):
            return f"knn: point {p} ranks {[r for r, _ in got]}"
        i = index[p]
        gd = d[i, [rid for _, rid in got]]
        if not np.allclose(gd, best[i], rtol=rel_tol, atol=1e-3):
            return f"knn: point {p} distances {gd} != {best[i]}"
    return ""


def rect_area_m2(lng0, lat0, lng1, lat1) -> float:
    """Exact area of a lat/lng box on the sphere."""
    return (EARTH_R ** 2 * (math.sin(math.radians(lat1)) - math.sin(math.radians(lat0)))
            * math.radians(lng1 - lng0))


def ngon_area_m2(n: int, theta: float) -> float:
    """Area of the regular spherical n-gon inscribed in a circle of angular
    radius theta: n times the spherical excess E of the isosceles centre
    triangle with legs theta and apex angle g = 2*pi/n, from
    tan(E/2) = t^2 sin(g) / (1 + t^2 cos(g)) with t = tan(theta/2)
    (well conditioned for small theta, unlike the side-angle forms)."""
    g = 2 * math.pi / n
    t2 = math.tan(theta / 2) ** 2
    return n * 2 * math.atan2(t2 * math.sin(g), 1 + t2 * math.cos(g)) * EARTH_R ** 2


def tile_x(lng: float, z: int) -> int:
    n = 1 << z
    return min(max(int(math.floor((lng + 180.0) / 360.0 * n)), 0), n - 1)


def tile_y(lat: float, z: int) -> int:
    n = 1 << z
    lat = max(min(lat, MAX_MERCATOR_LAT), -MAX_MERCATOR_LAT)
    r = math.radians(lat)
    y = math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.pi) / 2.0 * n)
    return min(max(int(y), 0), n - 1)


def rect_tiles(region_id: int, lng0, lat0, lng1, lat1, z: int) -> set:
    """Slippy-map tiles of an axis-aligned box: the corner tiles bound the
    range because Web Mercator is monotone per axis."""
    return {(region_id, x, y)
            for x in range(tile_x(lng0, z), tile_x(lng1, z) + 1)
            for y in range(tile_y(lat1, z), tile_y(lat0, z) + 1)}


def cube_face(lng, lat) -> np.ndarray:
    """S2 cube face of each point: axis of the largest |xyz| component,
    plus 3 when that component is negative."""
    lam, phi = np.radians(lng), np.radians(lat)
    xyz = np.stack([np.cos(phi) * np.cos(lam), np.cos(phi) * np.sin(lam),
                    np.sin(phi)], axis=-1)
    axis = np.argmax(np.abs(xyz), axis=1)
    neg = xyz[np.arange(len(xyz)), axis] < 0
    return axis + 3 * neg


def cell_parent_u64(cell: np.ndarray, level: int) -> np.ndarray:
    lsb = np.uint64(1 << (2 * (30 - level)))
    return (cell & ~(lsb * np.uint64(2) - np.uint64(1))) | lsb


def check_ingest_keys(rows, z_levels, s2_levels) -> str:
    """rows: per-city dicts of the ingested key columns.  Checks what can be
    recomputed without the package's Hilbert encoder: the leaf id is a
    valid leaf on the right cube face, each S2 tile column is its exact
    bit-math parent, and each Mercator tile matches the slippy formula."""
    for r in rows:
        leaf = np.array([r["leaf"]], dtype=np.int64).view(np.uint64)
        if int(leaf[0]) & 1 != 1:
            return f"ingest: city {r['city_k']} leaf {r['leaf']} is not a leaf id"
        lng, lat = city_lnglat(r["city_k"])
        face = int(cube_face(np.array([lng]), np.array([lat]))[0])
        if int(leaf[0]) >> 61 != face:
            return f"ingest: city {r['city_k']} on face {int(leaf[0]) >> 61} != {face}"
        for lev in s2_levels:
            want = int(cell_parent_u64(leaf, lev).view(np.int64)[0])
            if r[f"s2_cell_l{lev}"] != want:
                return f"ingest: city {r['city_k']} s2_cell_l{lev} mismatch"
        for z in z_levels:
            if (r[f"tile_z{z}_x"], r[f"tile_z{z}_y"]) != (tile_x(float(lng), z),
                                                          tile_y(float(lat), z)):
                return f"ingest: city {r['city_k']} tile z{z} mismatch"
    return ""
