"""Hypothesis property tests for the numpy geometry core — the primitives
every spatial join and dissolve rests on. Pure numpy (no Spark session), so
hundreds of randomized cases run in seconds. Each property is checked
against either an independent brute-force implementation or an exact
mathematical identity (area partition, integer-grid counting)."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from balrog_spark import cells, geometry

settings.register_profile("geom", max_examples=120, deadline=None,
                          derandomize=True)
settings.load_profile("geom")


# --- independent oracles ---------------------------------------------------

def _pip_bruteforce(px, py, rings):
    """Even-odd ray casting, one scalar point at a time, written from the
    textbook definition (independent of the vectorized implementation)."""
    out = []
    for x, y in zip(px, py):
        cnt = 0
        for ring in rings:
            r = np.asarray(ring, dtype=float)
            n = len(r)
            for i in range(n):
                x1, y1 = r[i]
                x2, y2 = r[(i + 1) % n]
                if (y1 > y) != (y2 > y):
                    xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                    if xi > x:
                        cnt += 1
        out.append(cnt % 2 == 1)
    return np.array(out)


def _dist_bruteforce(px, py, ring):
    """Min distance point -> polygon boundary via per-segment projection."""
    r = np.asarray(ring, dtype=float)
    n = len(r)
    best = np.full(len(px), np.inf)
    for i in range(n):
        ax, ay = r[i]
        bx, by = r[(i + 1) % n]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        if L2 == 0:
            d = np.hypot(px - ax, py - ay)
        else:
            t = np.clip(((px - ax) * dx + (py - ay) * dy) / L2, 0, 1)
            d = np.hypot(px - (ax + t * dx), py - (ay + t * dy))
        best = np.minimum(best, d)
    return best


# --- strategies -------------------------------------------------------------

coords = st.floats(min_value=-50, max_value=50, allow_nan=False,
                   allow_infinity=False)


@st.composite
def star_polygons(draw):
    """Star-shaped (hence simple) polygon around a kernel point; returns
    (ring, kernel_x, kernel_y)."""
    n = draw(st.integers(min_value=3, max_value=12))
    cx, cy = draw(coords), draw(coords)
    radii = draw(st.lists(st.floats(min_value=0.5, max_value=20),
                          min_size=n, max_size=n))
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    ring = np.stack([cx + np.array(radii) * np.cos(ang),
                     cy + np.array(radii) * np.sin(ang)], axis=1)
    return ring, cx, cy


@st.composite
def simple_polygons(draw):
    return draw(star_polygons())[0]


@st.composite
def holed_polygons(draw):
    """Exterior star polygon plus a small hole strictly inside it: an
    axis-aligned square around the kernel point whose farthest corner
    (half-side * sqrt(2)) stays short of the kernel-to-boundary distance
    (the vertex MEAN would not do — it can fall outside a non-convex
    star)."""
    ring, cx, cy = draw(star_polygons())
    d = float(_dist_bruteforce(np.array([cx]), np.array([cy]), ring)[0])
    h = max(d * 0.5, 1e-6)
    hole = np.array([[cx - h, cy - h], [cx + h, cy - h],
                     [cx + h, cy + h], [cx - h, cy + h]])
    return [ring, hole]


@st.composite
def int_boxes(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    boxes = []
    for _ in range(n):
        x0 = draw(st.integers(min_value=-15, max_value=14))
        y0 = draw(st.integers(min_value=-15, max_value=14))
        w = draw(st.integers(min_value=1, max_value=10))
        h = draw(st.integers(min_value=1, max_value=10))
        boxes.append((x0, y0, x0 + w, y0 + h))
    return boxes


def _box_ring(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)


# --- properties -------------------------------------------------------------

@given(holed_polygons(),
       st.lists(st.tuples(coords, coords), min_size=1, max_size=40))
def test_pip_even_odd_matches_bruteforce(rings, pts):
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    got = geometry.points_in_polygon(px, py, rings)
    ref = _pip_bruteforce(px, py, rings)
    assert (got == ref).all()


@given(simple_polygons(),
       st.lists(st.tuples(coords, coords), min_size=1, max_size=25))
def test_boundary_distance_matches_bruteforce(ring, pts):
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    d, nx, ny = geometry.points_to_ring_distance(px, py, ring)
    ref = _dist_bruteforce(px, py, ring)
    assert np.allclose(d, ref, rtol=1e-9, atol=1e-9)
    # the reported nearest point must realize the reported distance and lie
    # within the boundary's reach
    assert np.allclose(np.hypot(px - nx, py - ny), d, rtol=1e-9, atol=1e-9)


@given(simple_polygons())
def test_clip_partition_preserves_area(ring):
    """Clipping a polygon by the 4 quadrants of its bbox centre partitions
    it: quadrant areas must sum to the original area exactly (up to fp)."""
    xmin, ymin, xmax, ymax = geometry.bbox(ring)
    mx, my = (xmin + xmax) / 2, (ymin + ymax) / 2
    big = 1e6
    total = 0.0
    for bx in ((xmin - big, mx), (mx, xmax + big)):
        for by in ((ymin - big, my), (my, ymax + big)):
            piece = geometry.clip_ring_to_box(ring, bx[0], by[0],
                                              bx[1], by[1])
            if len(piece) >= 3:
                total += geometry.ring_area(piece)
    assert np.isclose(total, geometry.ring_area(ring),
                      rtol=1e-9, atol=1e-9)


@given(simple_polygons())
def test_clip_to_containing_box_is_identity_area(ring):
    xmin, ymin, xmax, ymax = geometry.bbox(ring)
    piece = geometry.clip_ring_to_box(ring, xmin - 1, ymin - 1,
                                      xmax + 1, ymax + 1)
    assert np.isclose(geometry.ring_area(piece), geometry.ring_area(ring))


@given(int_boxes())
def test_union_area_exact_on_integer_grid(boxes):
    """union_area of integer-coordinate boxes == exact count of covered
    unit cells (overlaps counted once) — an independent exact oracle."""
    polys = [[_box_ring(*b)] for b in boxes]
    got = geometry.union_area(polys)
    grid = np.zeros((80, 80), dtype=bool)
    for x0, y0, x1, y1 in boxes:
        grid[x0 + 30:x1 + 30, y0 + 30:y1 + 30] = True
    assert np.isclose(got, float(grid.sum()), rtol=0, atol=1e-6)


@given(holed_polygons())
def test_polygon_area_is_exterior_minus_hole(rings):
    a = geometry.polygon_area(rings)
    assert np.isclose(a, geometry.ring_area(rings[0])
                      - geometry.ring_area(rings[1]), rtol=1e-12)
    # every hole point reports "outside" under even-odd
    cx, cy = rings[1].mean(axis=0)
    assert not geometry.points_in_polygon(
        np.array([cx]), np.array([cy]), rings)[0]


def _open(ring):
    """Drop the WKT closing vertex if present."""
    r = np.asarray(ring)
    return r[:-1] if len(r) > 1 and (r[0] == r[-1]).all() else r


@given(simple_polygons())
def test_wkt_roundtrip(ring):
    polys = geometry.parse_wkt_polys(geometry.polygon_wkt(ring))
    assert len(polys) == 1 and len(polys[0]) == 1
    assert np.allclose(_open(polys[0][0]), ring, rtol=0,
                       atol=1e-6)  # WKT serializes at 6 dp


@given(holed_polygons())
def test_wkt_roundtrip_with_hole(rings):
    polys = geometry.parse_wkt_polys(geometry.polygon_wkt_rings(rings))
    assert len(polys) == 1 and len(polys[0]) == 2
    assert np.allclose(_open(polys[0][0]), rings[0], rtol=0, atol=1e-6)
    assert np.allclose(_open(polys[0][1]), rings[1], rtol=0, atol=1e-6)


@given(st.lists(st.tuples(st.integers(-500000, 499999),
                          st.integers(-500000, 499999)),
                min_size=1, max_size=50))
def test_cell_pack_unpack_roundtrip(cxy):
    cx = np.array([c[0] for c in cxy], dtype=np.int64)
    cy = np.array([c[1] for c in cxy], dtype=np.int64)
    ux, uy = cells.unpack(cells.pack(cx, cy))
    assert (ux == cx).all() and (uy == cy).all()
    # Morton interleave is a bijection on the offset grid: keys of distinct
    # cells are distinct
    keys = cells.morton_key(cx, cy)
    assert len(set(zip(cx, cy))) == len(set(keys.tolist()))


@st.composite
def int_holed_boxes(draw):
    """1-4 integer boxes, each with an integer hole strictly inside where
    the box is big enough."""
    n = draw(st.integers(min_value=1, max_value=4))
    polys = []
    for _ in range(n):
        x0 = draw(st.integers(min_value=-12, max_value=8))
        y0 = draw(st.integers(min_value=-12, max_value=8))
        w = draw(st.integers(min_value=1, max_value=9))
        h = draw(st.integers(min_value=1, max_value=9))
        rings = [_box_ring(x0, y0, x0 + w, y0 + h)]
        if w >= 3 and h >= 3:
            hx = draw(st.integers(min_value=x0 + 1, max_value=x0 + w - 2))
            hy = draw(st.integers(min_value=y0 + 1, max_value=y0 + h - 2))
            rings.append(_box_ring(hx, hy, hx + 1, hy + 1))
        polys.append(rings)
    return polys


@given(int_holed_boxes())
def test_union_area_exact_with_holes_on_integer_grid(polys):
    """union_area over HOLED, overlapping polygons == exact unit-cell count
    where each polygon covers (exterior minus its holes, even-odd) and the
    union is the boolean OR — one polygon's hole may be filled by another
    polygon's exterior, which the oracle paints naturally."""
    got = geometry.union_area(polys)
    grid = np.zeros((60, 60), dtype=bool)
    for rings in polys:
        cover = np.zeros_like(grid)
        x0, y0, x1, y1 = (int(v) for v in
                          (rings[0][:, 0].min(), rings[0][:, 1].min(),
                           rings[0][:, 0].max(), rings[0][:, 1].max()))
        cover[x0 + 20:x1 + 20, y0 + 20:y1 + 20] = True
        for hole in rings[1:]:
            hx0, hy0, hx1, hy1 = (int(v) for v in
                                  (hole[:, 0].min(), hole[:, 1].min(),
                                   hole[:, 0].max(), hole[:, 1].max()))
            cover[hx0 + 20:hx1 + 20, hy0 + 20:hy1 + 20] = False
        grid |= cover
    assert np.isclose(got, float(grid.sum()), rtol=0, atol=1e-6)


# --- batched Sutherland-Hodgman clip ---------------------------------------

def _sh_scalar(subject, clip):
    """Textbook Sutherland-Hodgman, one vertex at a time in Python floats:
    clip ring made CCW, then per clip edge keep the vertices on its left
    (cross >= 0) and add the crossing where an edge changes side."""
    clip = [(float(x), float(y)) for x, y in clip]
    m = len(clip)
    if sum(clip[i][0] * clip[(i + 1) % m][1]
           - clip[(i + 1) % m][0] * clip[i][1] for i in range(m)) < 0:
        clip = clip[::-1]
    poly = [(float(x), float(y)) for x, y in subject]
    for k in range(m):
        ax, ay = clip[k]
        bx, by = clip[(k + 1) % m]
        ex, ey = bx - ax, by - ay
        out = []
        for i in range(len(poly)):
            (cx, cy), (nx, ny) = poly[i], poly[(i + 1) % len(poly)]
            cin = ex * (cy - ay) - ey * (cx - ax) >= 0
            nin = ex * (ny - ay) - ey * (nx - ax) >= 0
            if cin != nin:
                dx, dy = nx - cx, ny - cy
                t = (ey * (cx - ax) - ex * (cy - ay)) / (ex * dy - ey * dx)
                xi = (cx + t * dx, cy + t * dy)
            if cin:
                out.append((cx, cy))
                if not nin:
                    out.append(xi)
            elif nin:
                out.append(xi)
        poly = out
    return np.array(poly).reshape(-1, 2)


small = st.integers(min_value=-6, max_value=6)


@st.composite
def sh_subjects(draw, clip):
    """Integer boxes (vertices exactly on the clip edges' lines), boxes
    with collinear runs (every edge split at its midpoint), far-off
    boxes (wholly outside), tiny stars at the clip's vertex mean
    (wholly inside) and general stars."""
    kind = draw(st.sampled_from(["box", "collinear", "outside", "inside",
                                 "star"]))
    if kind == "star":
        return draw(simple_polygons())
    if kind == "inside":
        ring, cx, cy = draw(star_polygons())
        return (ring - [cx, cy]) * 0.001 + clip.mean(axis=0)
    x0, y0 = draw(small), draw(small)
    x1, y1 = x0 + draw(st.integers(1, 8)), y0 + draw(st.integers(1, 8))
    ring = _box_ring(x0, y0, x1, y1)
    if kind == "outside":
        ring = ring + 100.0
    if kind == "collinear":
        mid = (ring + np.roll(ring, -1, axis=0)) / 2.0
        ring = np.stack([ring, mid], axis=1).reshape(-1, 2)
    return ring


@st.composite
def sh_batches(draw):
    """N (subject, clip) cases sharing one clip vertex count: integer
    boxes (C=4) or buffer 16-gons, each clip CCW or CW."""
    n = draw(st.integers(min_value=1, max_value=6))
    boxes = draw(st.booleans())
    subjects, clips = [], []
    for _ in range(n):
        if boxes:
            x0, y0 = draw(small), draw(small)
            clip = _box_ring(x0, y0, x0 + draw(st.integers(1, 8)),
                             y0 + draw(st.integers(1, 8)))
        else:
            clip = geometry.buffer_point(draw(coords) / 10,
                                         draw(coords) / 10,
                                         draw(st.floats(0.5, 10)))
        subjects.append(draw(sh_subjects(clip)))
        clips.append(clip[::-1] if draw(st.booleans()) else clip)
    return subjects, np.stack(clips)


@given(sh_batches())
def test_batched_clip_matches_scalar_sh_bitwise(batch):
    subjects, clips = batch
    verts, counts = geometry.clip_rings_to_convex(
        *geometry.pad_rings(subjects), clips)
    for i, (subject, clip) in enumerate(zip(subjects, clips)):
        want = _sh_scalar(subject, clip)
        got = verts[i, :counts[i]]
        assert got.shape == want.shape
        assert np.array_equal(got, want)   # bit for bit, not approx
        # the single-ring entry point is the N=1 case of the batch
        single = geometry.clip_ring_to_convex(subject, clip)
        assert single.shape[0] == want.shape[0]
        assert np.array_equal(single.reshape(-1, 2), want)


# --- batched zonal pixel mask ----------------------------------------------

@st.composite
def lattice_windows(draw):
    """Windows of a 25 m pixel grid with zones whose vertices sit on
    pixel centres (so edges run through centres and rows of centres
    lie on horizontal edges): single rings (possibly self-crossing),
    holed polygons and two-part multipolygons, some zones over two
    windows."""
    px = 25.0

    def ring(x0, y0):
        k = draw(st.integers(min_value=3, max_value=9))
        ij = draw(st.lists(st.tuples(st.integers(-1, 8), st.integers(-1, 8)),
                           min_size=k, max_size=k))
        return [(x0 + (i + 0.5) * px, y0 + (j + 0.5) * px) for i, j in ij]

    def body(r):
        r = r + r[:1]
        return "(" + ", ".join(f"{x!r} {y!r}" for x, y in r) + ")"

    rows = []
    for _ in range(draw(st.integers(min_value=1, max_value=5))):
        x0 = draw(st.integers(0, 4)) * px
        y0 = draw(st.integers(0, 4)) * px
        kind = draw(st.sampled_from(["ring", "ring", "holed", "multi"]))
        if kind == "ring":
            wkt = f"POLYGON ({body(ring(x0, y0))})"
        elif kind == "holed":
            wkt = f"POLYGON ({body(ring(x0, y0))}, {body(ring(x0, y0))})"
        else:
            wkt = (f"MULTIPOLYGON (({body(ring(x0, y0))}), "
                   f"({body(ring(x0, y0))}))")
        for _ in range(draw(st.integers(1, 2))):
            rows.append((wkt, x0 + draw(st.integers(-2, 2)) * px,
                         y0 + draw(st.integers(-2, 2)) * px,
                         draw(st.integers(0, 9)), draw(st.integers(0, 9)),
                         px))
    return pd.DataFrame(rows, columns=["wkt", "x0", "y0", "nrows",
                                       "ncols", "pixel_m"])


@given(lattice_windows())
def test_batched_zonal_mask_matches_points_in_geom(w):
    from balrog_spark import zonal
    got = zonal._window_masks(w)
    off = 0
    for r in w.itertuples():
        n, m = r.nrows, r.ncols
        xs = r.x0 + (np.arange(m) + 0.5) * r.pixel_m
        ys = r.y0 + (n - np.arange(n) - 0.5) * r.pixel_m
        gx = np.broadcast_to(xs[None, :], (n, m)).ravel()
        gy = np.broadcast_to(ys[:, None], (n, m)).ravel()
        want = geometry.points_in_geom(gx, gy,
                                       geometry.parse_wkt_polys(r.wkt))
        assert np.array_equal(got[off:off + n * m], want)
        off += n * m
    assert off == len(got)
