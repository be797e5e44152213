"""Cell-op goldens re-expressed from the reference's op/cell_test.cc
(/root/reference/src/s2geography/op/cell_test.cc) plus NumPy property checks.
"""

import numpy as np
import pytest

from s2geography_spark.core import cellid as C


@pytest.fixture(scope="module")
def test_cell():
    # kTestPoint{-64, 45} from cell_test.cc:11
    return C.from_lnglat(np.array([-64.0]), np.array([45.0]))


def test_token_roundtrip(test_cell):
    tok = C.to_token(test_cell)
    assert C.from_token(tok)[0] == test_cell[0]
    assert C.from_token(["not a valid token"])[0] == C.CELL_NONE


def test_debug_string_roundtrip(test_cell):
    dbg = C.to_debug_string(test_cell)
    assert C.from_debug_string(dbg)[0] == test_cell[0]
    assert C.from_debug_string(["not a valid debug"])[0] == C.CELL_NONE


def test_point_roundtrip(test_cell):
    x, y, z = C.to_xyz(test_cell)
    assert C.from_xyz(x, y, z)[0] == test_cell[0]
    ix, iy, iz = C.to_xyz(np.array([C.CELL_SENTINEL]))
    assert np.isnan(ix[0]) and np.isnan(iy[0]) and np.isnan(iz[0])


def test_is_valid(test_cell):
    assert C.is_valid(test_cell)[0]
    assert not C.is_valid(np.array([C.CELL_SENTINEL]))[0]
    assert not C.is_valid(np.array([C.CELL_NONE]))[0]


def test_cell_center(test_cell):
    # cell_test.cc CellCenter: center within 1e-7 degrees of (-64, 45)
    lng, lat = C.to_lnglat(test_cell)
    assert abs(-64 - lng[0]) < 1e-7
    assert abs(45 - lat[0]) < 1e-7


def test_level(test_cell):
    assert C.level(test_cell)[0] == 30
    assert C.level(np.array([C.CELL_NONE]))[0] == -1
    assert C.level(np.array([C.CELL_SENTINEL]))[0] == -1


def test_area(test_cell):
    face = C.parent_checked(test_cell, np.array([0]))
    assert C.cell_area(face)[0] == pytest.approx(4 * np.pi / 6, abs=1e-13)
    assert C.cell_area_approx(face)[0] == pytest.approx(4 * np.pi / 6, abs=1e-13)
    assert np.isnan(C.cell_area(np.array([C.CELL_NONE]))[0])
    assert np.isnan(C.cell_area_approx(np.array([C.CELL_SENTINEL]))[0])


def test_total_area_partitions_sphere():
    # all 384 level-3 cells partition the sphere exactly
    ids = np.concatenate([
        (np.uint64(f) << np.uint64(61))
        | (np.arange(64, dtype=np.uint64) << np.uint64(55))
        | np.uint64(1 << 54)
        for f in range(6)
    ])
    assert (C.level(ids) == 3).all()
    assert C.cell_area(ids).sum() == pytest.approx(4 * np.pi, abs=1e-9)


def test_parent(test_cell):
    assert C.level(C.parent_checked(test_cell, np.array([0])))[0] == 0
    assert C.level(C.parent_checked(test_cell, np.array([-1])))[0] == 29
    assert C.parent_checked(test_cell, np.array([31]))[0] == C.CELL_SENTINEL
    assert C.parent_checked(np.array([C.CELL_SENTINEL]), np.array([0]))[0] == C.CELL_SENTINEL


def test_contains(test_cell):
    p29 = C.parent_checked(test_cell, np.array([-1]))
    assert C.contains(p29, test_cell)[0]
    assert not C.contains(test_cell, p29)[0]
    assert not C.contains(np.array([C.CELL_SENTINEL]), test_cell)[0]
    assert not C.contains(test_cell, np.array([C.CELL_SENTINEL]))[0]


def test_may_intersect(test_cell):
    assert C.may_intersect(test_cell, test_cell)[0]
    p29 = C.parent_checked(test_cell, np.array([-1]))
    assert C.may_intersect(test_cell, p29)[0]
    nb = C.edge_neighbors(test_cell)
    assert not C.may_intersect(test_cell, nb[:, 0])[0]


def test_distance():
    ni = C.from_lnglat(np.array([0.0]), np.array([0.0]))
    ani = C.from_lnglat(np.array([180.0]), np.array([0.0]))
    # leaf cells are ~1.2e-9 rad wide; min distance is pi minus that
    assert C.cell_distance(ni, ani)[0] == pytest.approx(np.pi, abs=1e-8)
    tid = C.from_lnglat(np.array([-64.0]), np.array([45.0]))
    assert np.isnan(C.cell_distance(tid, np.array([C.CELL_SENTINEL]))[0])
    assert np.isnan(C.cell_distance(np.array([C.CELL_SENTINEL]), tid)[0])


def test_max_distance():
    ni = C.from_lnglat(np.array([0.0]), np.array([0.0]))
    ani = C.from_lnglat(np.array([180.0]), np.array([0.0]))
    assert C.cell_max_distance(ni, ani)[0] == np.pi  # EXPECT_DOUBLE_EQ golden
    tid = C.from_lnglat(np.array([-64.0]), np.array([45.0]))
    big = C.parent_checked(tid, np.array([5]))
    assert C.cell_max_distance(big, ni)[0] > C.cell_distance(big, ni)[0]
    assert np.isnan(C.cell_max_distance(tid, np.array([C.CELL_SENTINEL]))[0])


def test_max_distance_self_is_diameter():
    """max_distance(A, A) must be the cell diameter, not pi.

    Regression: _quad_contains_point accepted the ANTIPODAL mirror of a
    quad (all edge signs flip consistently), so the reflected-quad
    containment test in cell_max_distance fired for A vs -A and returned
    pi for every self pair.  The diameter of a convex cell is the max
    pairwise vertex arc."""
    for lng, lat, lev in [(10.0, 20.0, 5), (-64.0, 45.0, 3),
                          (170.0, -80.0, 8), (0.0, 0.0, 1)]:
        ids = C.from_lnglat(np.array([lng]), np.array([lat]), lev=lev)
        got = C.cell_max_distance(ids, ids)[0]
        v = C.cell_vertices_xyz(ids)[0]  # (4,3)
        dots = np.clip(v @ v.T, -1.0, 1.0)
        diam = np.arccos(dots.min())
        assert got == pytest.approx(diam, abs=1e-9)
        assert got < np.pi / 2  # definitely not the antipodal pi
    # antipodal pair still pi
    ni = C.from_lnglat(np.array([0.0]), np.array([0.0]))
    ani = C.from_lnglat(np.array([180.0]), np.array([0.0]))
    assert C.cell_max_distance(ni, ani)[0] == np.pi


def test_common_ancestor_level(test_cell):
    p5 = C.parent_checked(test_cell, np.array([5]))
    assert C.common_ancestor_level(p5, test_cell)[0] == 5
    assert C.common_ancestor_level(np.array([C.CELL_SENTINEL]), test_cell)[0] == -1


def test_children_partition(test_cell):
    big = C.parent_checked(test_cell, np.array([5]))
    kids = [C.child(big, np.array([k]))[0] for k in range(4)]
    assert len(set(kids)) == 4
    for k in kids:
        assert C.contains(big, np.array([k]))[0]
        assert C.level(np.array([k]))[0] == 6
    assert C.child(test_cell, np.array([0]))[0] == C.CELL_SENTINEL  # leaf
    assert C.child(big, np.array([4]))[0] == C.CELL_SENTINEL


def test_face_ij_roundtrip():
    rng = np.random.default_rng(7)
    f = rng.integers(0, 6, 3000)
    i = rng.integers(0, C.MAX_SIZE, 3000)
    j = rng.integers(0, C.MAX_SIZE, 3000)
    ids = C.from_face_ij(f, i, j)
    f2, i2, j2, _ = C.to_face_ij(ids)
    np.testing.assert_array_equal(f2, f)
    np.testing.assert_array_equal(i2, i)
    np.testing.assert_array_equal(j2, j)


def test_lnglat_roundtrip_precision():
    rng = np.random.default_rng(11)
    lng = rng.uniform(-180, 180, 5000)
    lat = rng.uniform(-90, 90, 5000)
    ids = C.from_lnglat(lng, lat)
    assert C.is_valid(ids).all()
    assert (C.level(ids) == 30).all()
    lng2, lat2 = C.to_lnglat(ids)
    assert np.abs(lat2 - lat).max() < 1e-7
    dlng = np.abs((lng2 - lng + 180) % 360 - 180) * np.cos(np.radians(lat))
    assert dlng.max() < 1e-7


def test_hilbert_locality():
    # consecutive leaf ids on the same face are Manhattan-adjacent in ij
    base = C.from_face_ij(np.array([2]), np.array([12345]), np.array([67890]))
    nxt = base + np.uint64(2)
    _, i1, j1, _ = C.to_face_ij(base)
    _, i2, j2, _ = C.to_face_ij(nxt)
    assert abs(int(i1[0]) - int(i2[0])) + abs(int(j1[0]) - int(j2[0])) == 1


def test_edge_neighbors_of_polar_face():
    # face 2 is the north-pole face; its 4 edge neighbors are faces 0,1,3,4
    tid = C.from_lnglat(np.array([-64.0]), np.array([45.0]))
    face_cell = C.parent_checked(tid, np.array([0]))
    nb = C.edge_neighbors(face_cell)
    assert sorted((nb.ravel() >> np.uint64(61)).tolist()) == [0, 1, 3, 4]
    assert (C.level(nb.ravel()) == 0).all()


def _edge_neighbors_loop(ids):
    """Per-cell reference for the vectorized edge_neighbors: one scalar
    from_face_ij / FromFaceIJWrap projection and parent per neighbour."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    face, i, j, _ = C.to_face_ij(ids)
    lev = C.level(ids)
    out = np.zeros((len(ids), 4), dtype=np.uint64)
    for row in range(len(ids)):
        l = int(lev[row])
        if l < 0:
            out[row, :] = C.CELL_SENTINEL
            continue
        size = 1 << (C.MAX_LEVEL - l)
        f, ii, jj = int(face[row]), int(i[row]), int(j[row])
        cand = [(ii, jj - size), (ii + size, jj), (ii, jj + size),
                (ii - size, jj)]
        for k, (ci, cj) in enumerate(cand):
            if not (0 <= ci < C.MAX_SIZE and 0 <= cj < C.MAX_SIZE):
                ci = min(max(ci, -1), C.MAX_SIZE)
                cj = min(max(cj, -1), C.MAX_SIZE)
                scale = 1.0 / C.MAX_SIZE
                limit = np.nextafter(1.0, 2.0)
                u = max(-limit, min(limit, scale * (2 * (ci - C.MAX_SIZE // 2) + 1)))
                v = max(-limit, min(limit, scale * (2 * (cj - C.MAX_SIZE // 2) + 1)))
                x, y, z = C.face_uv_to_xyz(np.int64(f), u, v)
                nf, nu, nv = C.xyz_to_face_uv(x, y, z)
                f2 = int(nf)
                ci = int(np.clip(np.floor(C.MAX_SIZE * (0.5 * (float(nu) + 1.0))),
                                 0, C.MAX_SIZE - 1))
                cj = int(np.clip(np.floor(C.MAX_SIZE * (0.5 * (float(nv) + 1.0))),
                                 0, C.MAX_SIZE - 1))
            else:
                f2 = f
            leaf = C.from_face_ij(np.array([f2]), np.array([ci]),
                                  np.array([cj]))[0]
            out[row, k] = C.parent(np.array([leaf]), l)[0]
    return out


def test_edge_neighbors_matches_per_cell_loop():
    """Bit-identical to the per-cell loop over random cells at every
    level, face corners and edges (the cross-face wrap), the poles and
    invalid ids."""
    rng = np.random.default_rng(7)
    n = 400
    lng = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    cells = [C.parent(C.from_lnglat(lng, lat), rng.integers(0, 31, n))]
    top = C.MAX_SIZE - 1
    for f in range(6):
        for ii, jj in [(0, 0), (top, 0), (0, top), (top, top), (0, 12345),
                       (12345, top)]:
            leaf = C.from_face_ij(np.array([f] * 5), np.array([ii] * 5),
                                  np.array([jj] * 5))
            cells.append(C.parent(leaf, np.array([0, 1, 5, 17, 30])))
    cells.append(C.from_lnglat(np.array([0.0, 0.0, 45.0]),
                               np.array([90.0, -90.0, 89.9999])))
    cells.append(np.array([C.CELL_SENTINEL, 0], dtype=np.uint64))
    ids = np.concatenate(cells)
    assert np.array_equal(C.edge_neighbors(ids), _edge_neighbors_loop(ids))
