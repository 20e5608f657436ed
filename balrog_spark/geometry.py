"""Pure-numpy planar geometry — WKT, point-in-polygon, distances, buffers.

The sandbox has no shapely/GEOS, so the engine carries its own vectorized
geometry core. Everything operates on (N, 2) float64 vertex arrays in a
projected CRS (metres) — the reference pipeline likewise requires a projected
CRS for its raster math (reference: bal.py:352-368) and uses WKT text as the
interchange format between stages
(reference: data_prep/vegetation/04_merge_geometries.py:149,217).

All functions are batch-oriented: they take arrays of points and loop only
over polygons (few) never over points (many), so they stay Arrow-friendly
inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np


# --- WKT ---------------------------------------------------------------------

def parse_wkt_polys(wkt: str):
    """Parse POLYGON/MULTIPOLYGON WKT -> list of polygons, each a list of
    rings [exterior, hole, ...], every ring an (N, 2) float array.

    Interior rings (holes) are preserved — real NVIS vegetation multipolygons
    are holed (reference:
    data_prep/vegetation/03_explode_multipolygons_and_classify.sql:5-9).
    POINT parses as one hole-free polygon with a (1, 2) "ring".
    """
    s = wkt.strip()
    upper = s.upper()
    if upper.startswith("POINT"):
        body = s[s.index("(") + 1:s.rindex(")")]
        x, y = body.replace(",", " ").split()[:2]
        return [[np.array([[float(x), float(y)]])]]
    depth = 0
    start = None
    polys = []
    cur_poly_rings = []
    is_multi = upper.startswith("MULTIPOLYGON")
    ring_depth = 3 if is_multi else 2
    poly_depth = 2 if is_multi else 1
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "(":
            depth += 1
            if depth == ring_depth:
                start = i + 1
        elif ch == ")":
            if start is not None and depth == ring_depth:
                coords = s[start:i]
                pts = np.array([[float(v) for v in pair.split()[:2]]
                                for pair in coords.split(",")])
                cur_poly_rings.append(pts)
                start = None
            if depth == poly_depth and cur_poly_rings:
                polys.append(cur_poly_rings)
                cur_poly_rings = []
            depth -= 1
        i += 1
    return polys


def parse_wkt(wkt: str):
    """Exterior rings only: list of (N, 2) arrays — for callers that only
    need bboxes/footprints. Hole-aware callers use :func:`parse_wkt_polys`."""
    return [p[0] for p in parse_wkt_polys(wkt)]


def ring_wkt(ring: np.ndarray) -> str:
    pts = ring
    if not np.array_equal(pts[0], pts[-1]):
        pts = np.vstack([pts, pts[:1]])
    inner = ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts)
    return f"(({inner}))"


def polygon_wkt(ring: np.ndarray) -> str:
    return "POLYGON " + ring_wkt(ring)


def _rings_wkt(rings) -> str:
    """(ext), (hole), ... body of one polygon."""
    body = []
    for r in rings:
        pts = r
        if not np.array_equal(pts[0], pts[-1]):
            pts = np.vstack([pts, pts[:1]])
        body.append("(" + ", ".join(f"{x:.6f} {y:.6f}"
                                    for x, y in pts.tolist()) + ")")
    return "(" + ", ".join(body) + ")"


def polygon_wkt_rings(rings) -> str:
    """POLYGON WKT from [exterior, hole, ...] rings."""
    return "POLYGON " + _rings_wkt(rings)


def multipolygon_wkt(rings) -> str:
    return "MULTIPOLYGON (" + ", ".join(ring_wkt(r) for r in rings) + ")"


def multipolygon_wkt_polys(polys) -> str:
    """MULTIPOLYGON WKT from a list of [ext, holes...] polygons."""
    return "MULTIPOLYGON (" + ", ".join(_rings_wkt(p) for p in polys) + ")"


def _closed(ring: np.ndarray) -> np.ndarray:
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        return ring[:-1]
    return ring


# --- predicates ---------------------------------------------------------------

def points_in_ring(px, py, ring) -> np.ndarray:
    """Vectorized even-odd ray cast: bool mask of points inside a ring.
    Boundary handling follows the usual half-open convention."""
    ring = _closed(np.asarray(ring, dtype=np.float64))
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    inside = np.zeros(px.shape, dtype=bool)
    for k in range(len(ring)):
        cond = ((y1[k] > py) != (y2[k] > py))
        if not cond.any():
            continue
        xint = (x2[k] - x1[k]) * (py - y1[k]) / (y2[k] - y1[k]) + x1[k]
        inside ^= cond & (px < xint)
    return inside


def points_in_polygon(px, py, rings) -> np.ndarray:
    """Even-odd point-in-polygon over exterior + interior rings: a point
    inside a hole is OUTSIDE the polygon (XOR of per-ring crossings —
    the st_contains semantics the reference's PIP joins rely on)."""
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside ^= points_in_ring(px, py, hole)
    return inside


def polygon_area(rings) -> float:
    """Area of a holed polygon: exterior shoelace minus hole shoelaces."""
    a = ring_area(rings[0])
    for hole in rings[1:]:
        a -= ring_area(hole)
    return a


def ring_area(ring) -> float:
    """Shoelace area (absolute)."""
    ring = _closed(np.asarray(ring, dtype=np.float64))
    x, y = ring[:, 0], ring[:, 1]
    # np.roll(v, -1), without its per-call overhead
    return float(abs(np.dot(x, np.concatenate((y[1:], y[:1])))
                     - np.dot(y, np.concatenate((x[1:], x[:1])))) / 2.0)


def ring_centroid(ring):
    ring = _closed(np.asarray(ring, dtype=np.float64))
    x, y = ring[:, 0], ring[:, 1]
    cross = x * np.roll(y, -1) - np.roll(x, -1) * y
    a = cross.sum() / 2.0
    if abs(a) < 1e-12:
        return float(x.mean()), float(y.mean())
    cx = ((x + np.roll(x, -1)) * cross).sum() / (6.0 * a)
    cy = ((y + np.roll(y, -1)) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def bbox(ring):
    ring = np.asarray(ring, dtype=np.float64)
    return (float(ring[:, 0].min()), float(ring[:, 1].min()),
            float(ring[:, 0].max()), float(ring[:, 1].max()))


# --- distances ----------------------------------------------------------------

def points_to_ring_distance(px, py, ring):
    """Min distance from each point to the ring boundary, plus the nearest
    boundary point, vectorized over points.

    Returns (dist, nx, ny). Points inside still get boundary distance —
    callers combine with :func:`points_in_ring` when 0-inside semantics are
    wanted (shapely nearest_points on the boundary is what the reference's
    kNN uses, reference: data_prep/vegetation/xx_fiona_testing.py:203-217).
    """
    ring = _closed(np.asarray(ring, dtype=np.float64))
    p = np.stack([np.asarray(px, dtype=np.float64),
                  np.asarray(py, dtype=np.float64)], axis=-1)  # (N, 2)
    a = ring                      # (M, 2) segment starts
    b = np.roll(ring, -1, axis=0)  # (M, 2) segment ends
    ab = b - a                    # (M, 2)
    ab2 = (ab ** 2).sum(axis=1)   # (M,)
    ab2 = np.where(ab2 == 0, 1.0, ab2)
    # t = clamp(dot(p - a, ab) / |ab|^2) ; broadcast (N, M)
    ap = p[:, None, :] - a[None, :, :]          # (N, M, 2)
    t = np.clip((ap * ab[None, :, :]).sum(-1) / ab2[None, :], 0.0, 1.0)
    proj = a[None, :, :] + t[..., None] * ab[None, :, :]   # (N, M, 2)
    d2 = ((p[:, None, :] - proj) ** 2).sum(-1)             # (N, M)
    k = d2.argmin(axis=1)
    n = np.arange(len(p))
    nearest = proj[n, k]
    return np.sqrt(d2[n, k]), nearest[:, 0], nearest[:, 1]


def points_in_geom(px, py, polys) -> np.ndarray:
    """Point-in-geometry over a (multi)polygon: union of parts, each part
    even-odd over its rings."""
    inside = points_in_polygon(px, py, polys[0])
    for rings in polys[1:]:
        inside |= points_in_polygon(px, py, rings)
    return inside


def points_to_geom_distance(px, py, polys):
    """Min boundary distance over every part's every ring, with nearest
    boundary point."""
    d, nx, ny = points_to_polygon_distance(px, py, polys[0])
    for rings in polys[1:]:
        dp, nxp, nyp = points_to_polygon_distance(px, py, rings)
        closer = dp < d
        d = np.where(closer, dp, d)
        nx = np.where(closer, nxp, nx)
        ny = np.where(closer, nyp, ny)
    return d, nx, ny


def points_to_polygon_distance(px, py, rings):
    """Min distance from each point to the polygon BOUNDARY (exterior or any
    hole ring), with the nearest boundary point. A point inside a hole gets
    its distance to the hole ring — exactly the nearest-boundary semantics of
    shapely's ``nearest_points`` the reference kNN uses (reference:
    data_prep/vegetation/xx_fiona_testing.py:203-217)."""
    d, nx, ny = points_to_ring_distance(px, py, rings[0])
    for hole in rings[1:]:
        dh, nxh, nyh = points_to_ring_distance(px, py, hole)
        closer = dh < d
        d = np.where(closer, dh, d)
        nx = np.where(closer, nxh, nx)
        ny = np.where(closer, nyh, ny)
    return d, nx, ny


def azimuth_deg(x0, y0, x1, y1):
    """Planar forward azimuth in degrees clockwise from north, range
    (-180, 180] like pyproj Geod.inv's fwd azimuth convention."""
    az = np.degrees(np.arctan2(np.asarray(x1) - x0, np.asarray(y1) - y0))
    return az


# --- constructors ------------------------------------------------------------

def buffer_point(cx: float, cy: float, radius: float, quad_segs: int = 4):
    """Circular buffer polygon around a point, quad_segs vertices per
    quadrant — mirrors PostGIS st_buffer(geography, r, 4)
    (reference: data_prep/gnaf/create_buffered_points.sql:10)."""
    n = max(int(quad_segs) * 4, 4)
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    return np.stack([cx + radius * np.cos(ang),
                     cy + radius * np.sin(ang)], axis=1)


def buffer_points_vec(cx, cy, radius, quad_segs: int = 4):
    """Batch point buffers: (N,) centres -> (N, V, 2) vertex array."""
    cx = np.asarray(cx, dtype=np.float64)[:, None]
    cy = np.asarray(cy, dtype=np.float64)[:, None]
    n = max(int(quad_segs) * 4, 4)
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)[None, :]
    r = np.broadcast_to(np.asarray(radius, dtype=np.float64),
                        np.shape(cx[:, 0]))[:, None]
    return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=2)


def clip_ring_to_box(ring, xmin, ymin, xmax, ymax):
    """Sutherland-Hodgman clip of a convex-or-concave ring to an axis box.
    Returns the clipped ring (possibly empty). This is the engine's
    st_subdivide building block (reference:
    data_prep/vegetation/03_explode_multipolygons_and_classify.sql:66-75) —
    polygons are split along grid-cell boundaries to bound per-row cost."""
    poly = _closed(np.asarray(ring, dtype=np.float64)).tolist()

    def clip_edge(pts, inside, intersect):
        out = []
        n = len(pts)
        for i in range(n):
            cur, nxt = pts[i], pts[(i + 1) % n]
            cin, nin = inside(cur), inside(nxt)
            if cin:
                out.append(cur)
                if not nin:
                    out.append(intersect(cur, nxt))
            elif nin:
                out.append(intersect(cur, nxt))
        return out

    def x_cross(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return [x, p[1] + t * (q[1] - p[1])]

    def y_cross(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return [p[0] + t * (q[0] - p[0]), y]

    poly = clip_edge(poly, lambda p: p[0] >= xmin,
                     lambda p, q: x_cross(p, q, xmin))
    if not poly:
        return np.empty((0, 2))
    poly = clip_edge(poly, lambda p: p[0] <= xmax,
                     lambda p, q: x_cross(p, q, xmax))
    if not poly:
        return np.empty((0, 2))
    poly = clip_edge(poly, lambda p: p[1] >= ymin,
                     lambda p, q: y_cross(p, q, ymin))
    if not poly:
        return np.empty((0, 2))
    poly = clip_edge(poly, lambda p: p[1] <= ymax,
                     lambda p, q: y_cross(p, q, ymax))
    return np.array(poly) if poly else np.empty((0, 2))


def _collect_segs(polys, pid_base: int = 0):
    """Segments of a polygon list as (x1, y1, x2, y2, poly_idx) tuples;
    ``pid_base`` offsets the polygon index (lets two groups share one
    sweep with disjoint ids)."""
    segs = []
    for pi, rings in enumerate(polys):
        for ring in rings:
            r = _closed(np.asarray(ring, dtype=np.float64))
            a = r
            b = np.roll(r, -1, axis=0)
            for (x1, y1), (x2, y2) in zip(a, b):
                segs.append((x1, y1, x2, y2, pid_base + pi))
    return segs


def _sweep_breakpoints(S: np.ndarray) -> np.ndarray:
    """Sorted x breakpoints for a slab sweep: every segment endpoint plus
    every pairwise segment-line crossing x (extra breakpoints harmless)."""
    xs = set(S[:, 0].tolist()) | set(S[:, 2].tolist())
    x1, y1, x2, y2 = S[:, 0], S[:, 1], S[:, 2], S[:, 3]
    nonvert = x1 != x2
    idx = np.nonzero(nonvert)[0]
    if len(idx):
        sl = (y2[idx] - y1[idx]) / (x2[idx] - x1[idx])
        ic = y1[idx] - sl * x1[idx]
        ds = sl[:, None] - sl[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = (ic[None, :] - ic[:, None]) / ds
        lo = np.minimum(x1[idx], x2[idx])
        hi = np.maximum(x1[idx], x2[idx])
        ok = (np.abs(ds) > 1e-12) \
            & (xc > lo[:, None]) & (xc < hi[:, None]) \
            & (xc > lo[None, :]) & (xc < hi[None, :])
        xs |= set(xc[ok].tolist())
    return np.array(sorted(xs))


def _union_intervals(yc: np.ndarray, pc: np.ndarray) -> list:
    """Merged union coverage intervals at one slab midline: even-odd pair
    each polygon's boundary crossings (holes included), then merge across
    polygons."""
    ivs = []
    for pi in np.unique(pc):
        ys = np.sort(yc[pc == pi])
        for j in range(0, len(ys) - 1, 2):
            ivs.append((ys[j], ys[j + 1]))
    ivs.sort()
    merged = []
    for lo_y, hi_y in ivs:
        if merged and lo_y <= merged[-1][1]:
            if hi_y > merged[-1][1]:
                merged[-1] = (merged[-1][0], hi_y)
        else:
            merged.append((lo_y, hi_y))
    return merged


def _slab_crossings(S: np.ndarray, pid: np.ndarray, xm: float):
    """(y-values, poly-ids) of every segment crossing the vertical x=xm."""
    x1, y1, x2, y2 = S[:, 0], S[:, 1], S[:, 2], S[:, 3]
    cross = ((x1 < xm) & (xm < x2)) | ((x2 < xm) & (xm < x1))
    if not cross.any():
        return np.empty(0), np.empty(0, dtype=np.int64)
    yc = y1[cross] + (xm - x1[cross]) * (y2[cross] - y1[cross]) \
        / (x2[cross] - x1[cross])
    return yc, pid[cross]


def pad_rings(rings):
    """List of rings -> ((N, V, 2) zero-padded vertex array, (N,) vertex
    counts), each ring without its closing duplicate vertex — the layout
    :func:`clip_rings_to_convex` takes and returns."""
    rings = [_closed(np.asarray(r, dtype=np.float64)) for r in rings]
    counts = np.fromiter((len(r) for r in rings), np.int64, len(rings))
    out = np.zeros((len(rings), int(counts.max(initial=0)), 2))
    for i, r in enumerate(rings):
        out[i, :len(r)] = r
    return out, counts


def ring_bboxes(verts, counts):
    """[xmin, ymin, xmax, ymax] of every ring of a padded vertex array
    (:func:`pad_rings` layout); the masked min/max are exact."""
    pad = (np.arange(verts.shape[1]) >= counts[:, None])[..., None]
    lo = np.where(pad, np.inf, verts).min(axis=1, initial=np.inf)
    hi = np.where(pad, -np.inf, verts).max(axis=1, initial=-np.inf)
    return np.concatenate([lo, hi], axis=1).tolist()


def clip_rings_to_convex(subj, counts, clips):
    """Sutherland-Hodgman clip of N rings at once, each against its own
    CONVEX clip ring — the general V12 polygon∩polygon primitive for
    convex clips (address buffers are convex by construction, reference:
    data_prep/vegetation/xx_fiona_testing.py:139 buffer.intersection).

    ``subj`` (N, V, 2) holds ring i in its first ``counts[i]`` rows (see
    :func:`pad_rings`); ``clips`` (N, C, 2) holds the open clip rings,
    all with the same vertex count C >= 3. Clip orientation is
    normalized to CCW per ring. Returns (vertices, counts) in the same
    padded layout; a count of 0 is an empty clip. Each output vertex
    comes out of the textbook scalar loop's float operations in the
    same order, vectorized over rings and vertices, so a batch of N
    gives bit-identical vertices to N single-ring calls.

    EXACT ONLY FOR CONVEX SUBJECTS (convex ∩ convex is a single convex
    piece). For a CONCAVE subject whose intersection is disconnected,
    the SH output threads bridges along the clip boundary and its
    shoelace area CAN be wrong (verified against the slab sweep in
    tests/test_geometry_clip.py) — route concave subjects to
    :func:`clip_polys_general` instead; :func:`ring_is_convex` is the
    dispatch test."""
    poly = np.asarray(subj, dtype=np.float64)
    n = np.asarray(counts, dtype=np.int64)
    clips = np.asarray(clips, dtype=np.float64)
    x, y = clips[..., 0], clips[..., 1]
    # signed shoelace: negative -> CW -> reverse to CCW
    cw = ((x * np.roll(y, -1, axis=1)).sum(axis=1)
          - (y * np.roll(x, -1, axis=1)).sum(axis=1)) < 0
    if cw.any():
        clips = clips.copy()
        clips[cw] = clips[cw, ::-1]
    # clip edge k of every ring: start a, direction e = b - a, (N, 1) each
    a = clips.transpose(1, 2, 0)[..., None]
    e = np.roll(clips, -1, axis=1).transpose(1, 2, 0)[..., None] - a
    rows = np.arange(len(n))[:, None]
    with np.errstate(all="ignore"):
        for (ax, ay), (ex, ey) in zip(a, e):
            if poly.shape[1] == 0:
                break
            j = np.arange(poly.shape[1])[None, :]
            valid = j < n[:, None]
            cx, cy = poly[..., 0], poly[..., 1]
            cin = ex * (cy - ay) - ey * (cx - ax) >= 0
            if (cin | ~valid).all():
                continue  # every vertex is inside: this edge keeps all
            nxt = np.where(j + 1 < n[:, None], j + 1, 0)
            nin = cin[rows, nxt]
            # segment cur->nxt crosses the clip edge's line: parametric t
            # along it where cross(e, p - a) == 0
            dx, dy = cx[rows, nxt] - cx, cy[rows, nxt] - cy
            t = (ey * (cx - ax) - ex * (cy - ay)) / (ex * dy - ey * dx)
            xi = np.stack([cx + t * dx, cy + t * dy], axis=-1)
            # per input vertex: cur if inside, then the crossing if the
            # edge leaves or enters the half-plane
            cnt = np.where(valid, cin.astype(np.int64) + (cin != nin), 0)
            pos = np.cumsum(cnt, axis=1) - cnt
            n = cnt.sum(axis=1)
            out = np.zeros((len(n), int(n.max(initial=0)), 2))
            r1, c1 = np.nonzero(cnt >= 1)
            out[r1, pos[r1, c1]] = np.where(cin[..., None], poly,
                                            xi)[r1, c1]
            r2, c2 = np.nonzero(cnt == 2)
            out[r2, pos[r2, c2] + 1] = xi[r2, c2]
            poly = out
    return poly, n


def clip_ring_to_convex(ring, clip_ring):
    """One ring against one convex clip ring: the N=1 case of
    :func:`clip_rings_to_convex` (same exactness caveat — convex
    subjects only). Returns the clipped ring vertices (possibly
    empty)."""
    clip = _closed(np.asarray(clip_ring, dtype=np.float64))
    if len(clip) < 3:
        return np.empty((0, 2))
    out, n = clip_rings_to_convex(*pad_rings([ring]), clip[None])
    return out[0, :n[0]] if n[0] else np.empty((0, 2))


def clip_polys_to_convex(polys, clip_ring):
    """Clip a holed multipolygon (list of [exterior, hole, ...] ring lists)
    against a convex clip ring: every ring is SH-clipped independently
    (even-odd semantics survive intersection with a convex region), all
    in one :func:`clip_rings_to_convex` batch. Parts whose clipped
    exterior is degenerate are dropped; degenerate clipped holes are
    dropped from their part. Returns the same polys structure."""
    clip = _closed(np.asarray(clip_ring, dtype=np.float64))
    rings = [r for part in polys for r in part]
    if len(clip) < 3 or not rings:
        return []
    verts, n = clip_rings_to_convex(
        *pad_rings(rings), np.broadcast_to(clip, (len(rings),) + clip.shape))
    clipped = [verts[i, :n[i]] for i in range(len(rings))]
    out, i = [], 0
    for part in polys:
        ext, holes = clipped[i], clipped[i + 1:i + len(part)]
        i += len(part)
        if len(ext) < 3 or ring_area(ext) <= 0.0:
            continue
        out.append([ext] + [h for h in holes
                            if len(h) >= 3 and ring_area(h) > 0.0])
    return out


def union_area(polys) -> float:
    """Exact area of the UNION of arbitrary (possibly overlapping, possibly
    holed) polygons — the geometric core of st_union/dissolve (reference:
    data_prep/vegetation/03_explode_multipolygons_and_classify.sql:36-58).

    Vertical slab sweep: cut the x-axis at every segment endpoint and every
    pairwise segment-line crossing; within a slab no two segments cross and
    no endpoint occurs, so each polygon's coverage intervals at the slab
    midline vary linearly and never reorder — union length is linear in x
    and the slab's union area is exactly width * length(midline). O(S^2) in
    segment count, so callers bound S by grid-cell subdivision first.
    """
    segs = _collect_segs(polys)
    if not segs:
        return 0.0
    S = np.array([s[:4] for s in segs], dtype=np.float64)
    pid = np.array([s[4] for s in segs], dtype=np.int64)
    bks = _sweep_breakpoints(S)
    total = 0.0
    for k in range(len(bks) - 1):
        w = bks[k + 1] - bks[k]
        if w <= 0:
            continue
        yc, pc = _slab_crossings(S, pid, 0.5 * (bks[k] + bks[k + 1]))
        total += w * sum(hi - lo for lo, hi in _union_intervals(yc, pc))
    return float(total)


def _band_filter(S, pid, in_b):
    """Restrict a two-poly slab sweep to the x-band where A's and B's
    x-ranges OVERLAP: the intersection lives only there, parity at any
    in-band midline needs only segments whose x-span touches the band
    (every segment crossing an in-band midline does), and the band
    edges are segment-endpoint breakpoints already, so the pruned sweep
    is bit-identical — while the O(S^2) pairwise breakpoint matrix
    shrinks from ALL segments to the in-band ones (a 50k-vertex
    coastline part against a 200 m buffer otherwise allocates a
    multi-GB crossing matrix PER PAIR). Returns (S, pid, in_b, band)
    with band=None when the ranges do not overlap."""
    sx_lo = np.minimum(S[:, 0], S[:, 2])
    sx_hi = np.maximum(S[:, 0], S[:, 2])
    ox0 = max(sx_lo[~in_b].min(), sx_lo[in_b].min())
    ox1 = min(sx_hi[~in_b].max(), sx_hi[in_b].max())
    if ox1 <= ox0:
        return S, pid, in_b, None
    keep = (sx_hi >= ox0) & (sx_lo <= ox1)
    return S[keep], pid[keep], in_b[keep], (ox0, ox1)


def intersection_area(polys_a, polys_b) -> float:
    """Exact area of union(polys_a) ∩ union(polys_b) — the V12
    polygon∩polygon primitive's area twin for NON-convex inputs, same slab
    sweep as :func:`union_area` (reference clip use:
    data_prep/vegetation/xx_fiona_testing.py:139 buffer.intersection).
    Serves as the independent check for :func:`clip_rings_to_convex`."""
    segs_a = _collect_segs(polys_a)
    segs_b = _collect_segs(polys_b, pid_base=len(polys_a))
    if not segs_a or not segs_b:
        return 0.0
    segs = segs_a + segs_b
    S = np.array([s[:4] for s in segs], dtype=np.float64)
    pid = np.array([s[4] for s in segs], dtype=np.int64)
    in_b = pid >= len(polys_a)
    S, pid, in_b, band = _band_filter(S, pid, in_b)
    if band is None:
        return 0.0
    bks = np.unique(np.clip(_sweep_breakpoints(S), band[0], band[1]))
    total = 0.0
    for k in range(len(bks) - 1):
        w = bks[k + 1] - bks[k]
        if w <= 0:
            continue
        xm = 0.5 * (bks[k] + bks[k + 1])
        yca, pca = _slab_crossings(S[~in_b], pid[~in_b], xm)
        if not len(yca):
            continue
        ycb, pcb = _slab_crossings(S[in_b], pid[in_b], xm)
        if not len(ycb):
            continue
        ia = _union_intervals(yca, pca)
        ib = _union_intervals(ycb, pcb)
        # two sorted disjoint interval lists -> intersection length
        length, i, j = 0.0, 0, 0
        while i < len(ia) and j < len(ib):
            lo = max(ia[i][0], ib[j][0])
            hi = min(ia[i][1], ib[j][1])
            if hi > lo:
                length += hi - lo
            if ia[i][1] < ib[j][1]:
                i += 1
            else:
                j += 1
        total += w * length
    return float(total)


def ring_is_valid(ring) -> bool:
    """Cheap validity: >= 3 distinct vertices and non-zero area (the engine's
    st_isvalid stand-in, reference:
    data_prep/vegetation/03_explode_multipolygons_and_classify.sql:17-18)."""
    ring = _closed(np.asarray(ring, dtype=np.float64))
    if len(ring) < 3:
        return False
    return ring_area(ring) > 0.0


def _dedup_ring(ring: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicate vertices (and the closing duplicate)."""
    ring = _closed(np.asarray(ring, dtype=np.float64))
    if len(ring) == 0:
        return ring
    keep = np.ones(len(ring), dtype=bool)
    keep[1:] = np.any(ring[1:] != ring[:-1], axis=1)
    return ring[keep]


def _first_self_intersection(ring: np.ndarray):
    """First proper self-crossing of a closed ring: (i, j, point) where
    segment i=(p_i, p_{i+1}) strictly crosses segment j, or None."""
    n = len(ring)
    a = ring
    b = np.roll(ring, -1, axis=0)
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue  # adjacent around the wrap
            p, r = a[i], b[i] - a[i]
            q, s = a[j], b[j] - a[j]
            denom = r[0] * s[1] - r[1] * s[0]
            if abs(denom) < 1e-12:
                continue
            t = ((q[0] - p[0]) * s[1] - (q[1] - p[1]) * s[0]) / denom
            u = ((q[0] - p[0]) * r[1] - (q[1] - p[1]) * r[0]) / denom
            if 1e-12 < t < 1 - 1e-12 and 1e-12 < u < 1 - 1e-12:
                return i, j, p + t * r
    return None


def make_valid_ring(ring, _depth: int = 0):
    """st_makevalid for a single ring: drop duplicate vertices, then split
    self-crossing (bowtie/figure-8) rings at each crossing into simple
    sub-rings — the standard repair that turns a bowtie into two triangles
    (the reference re-checks 116,744 invalid polygons after this repair,
    reference: data_prep/vegetation/xx_testing.sql:61,69,
    03_explode_multipolygons_and_classify.sql:17-18).

    Returns a list of simple rings (possibly empty when degenerate).
    """
    ring = _dedup_ring(ring)
    if len(ring) < 3:
        return []
    if _depth > 8:  # pathological input: keep the even-odd pieces found
        return [ring] if ring_area(ring) > 0.0 else []
    hit = _first_self_intersection(ring)
    if hit is None:
        # NOTE: the zero-area test must come AFTER the crossing split — a
        # bowtie's signed shoelace area is exactly 0 even though its two
        # lobes are real
        return [ring] if ring_area(ring) > 0.0 else []
    i, j, x = hit
    # split at the crossing: [x, p_{i+1}..p_j] and [x, p_{j+1}..p_i]
    r1 = np.vstack([x[None, :], ring[i + 1:j + 1]])
    r2 = np.vstack([x[None, :], ring[j + 1:], ring[:i + 1]])
    return make_valid_ring(r1, _depth + 1) + make_valid_ring(r2, _depth + 1)


def _slab_crossings_tracked(S: np.ndarray, pid: np.ndarray, x0: float,
                            xm: float, x1: float):
    """Crossing segments at the slab midline x=xm with each crossing's y
    evaluated at the slab edges x0/x1 too — the breakpoints guarantee no
    two segments cross inside a slab, so midline ordering holds across
    the whole slab and the edge y's describe exact trapezoid sides."""
    xa, ya, xb, yb = S[:, 0], S[:, 1], S[:, 2], S[:, 3]
    cross = ((xa < xm) & (xm < xb)) | ((xb < xm) & (xm < xa))
    if not cross.any():
        e = np.empty(0)
        return e, e, e, np.empty(0, dtype=np.int64)
    dx = xb[cross] - xa[cross]
    slope = (yb[cross] - ya[cross]) / dx
    ym = ya[cross] + (xm - xa[cross]) * slope
    y0 = ya[cross] + (x0 - xa[cross]) * slope
    y1 = ya[cross] + (x1 - xa[cross]) * slope
    return ym, y0, y1, pid[cross]


def _union_intervals_tracked(ym, y0, y1, pc) -> list:
    """Union coverage intervals at the midline with trapezoid-side
    tracking: each interval is (lo_m, hi_m, lo0, lo1, hi0, hi1) where
    *0/*1 are the bounding segments' y at the slab's left/right edge."""
    ivs = []
    for pi in np.unique(pc):
        m = pc == pi
        order = np.argsort(ym[m], kind="stable")
        ymi, y0i, y1i = ym[m][order], y0[m][order], y1[m][order]
        for j in range(0, len(ymi) - 1, 2):
            ivs.append((ymi[j], ymi[j + 1], y0i[j], y1i[j],
                        y0i[j + 1], y1i[j + 1]))
    ivs.sort(key=lambda t: t[0])
    merged = []
    for iv in ivs:
        if merged and iv[0] <= merged[-1][1]:
            if iv[1] > merged[-1][1]:
                c = merged[-1]
                merged[-1] = (c[0], iv[1], c[2], c[3], iv[4], iv[5])
        else:
            merged.append(iv)
    return merged


def clip_polys_general(polys_a, polys_b) -> list:
    """Exact intersection GEOMETRY of two arbitrary (non-convex, holed,
    multi-part) polygon lists — V12 for the general case, completing
    :func:`clip_polys_to_convex` (convex clips) and
    :func:`intersection_area` (area only).

    Same vertical slab sweep as the area twin, but each slab emits the
    intersection intervals as trapezoid polygons (interval bounds vary
    linearly inside a slab and never reorder, so the two edge
    evaluations of the bounding segments ARE the trapezoid's sides).
    Output is a list of hole-free single-ring polygons whose union is
    the exact intersection: area matches :func:`intersection_area` to
    float rounding (same interval arithmetic; the trapezoid shoelace
    reassociates the products) and even-odd containment matches
    (in A) AND (in B). The decomposition is not a minimal
    representation — seams between adjacent slabs are interior edges —
    which downstream consumers (area, PIP masks, zonal polygon zones)
    are insensitive to. The pairwise breakpoint matrix is O(S'^2) in
    the segments whose x-span touches the A∩B x-band (exact pruning,
    see _band_filter) — a small clip window against a huge subject
    costs the window's band, not the subject's full segment count.
    """
    segs_a = _collect_segs(polys_a)
    segs_b = _collect_segs(polys_b, pid_base=len(polys_a))
    if not segs_a or not segs_b:
        return []
    segs = segs_a + segs_b
    S = np.array([s[:4] for s in segs], dtype=np.float64)
    pid = np.array([s[4] for s in segs], dtype=np.int64)
    in_b = pid >= len(polys_a)
    S, pid, in_b, band = _band_filter(S, pid, in_b)
    if band is None:
        return []
    bks = np.unique(np.clip(_sweep_breakpoints(S), band[0], band[1]))
    out = []
    for k in range(len(bks) - 1):
        x0, x1 = bks[k], bks[k + 1]
        w = x1 - x0
        if w <= 0:
            continue
        xm = 0.5 * (x0 + x1)
        ya, y0a, y1a, pa = _slab_crossings_tracked(S[~in_b], pid[~in_b],
                                                   x0, xm, x1)
        if not len(ya):
            continue
        yb, y0b, y1b, pb = _slab_crossings_tracked(S[in_b], pid[in_b],
                                                   x0, xm, x1)
        if not len(yb):
            continue
        ia = _union_intervals_tracked(ya, y0a, y1a, pa)
        ib = _union_intervals_tracked(yb, y0b, y1b, pb)
        i = j = 0
        while i < len(ia) and j < len(ib):
            a, b = ia[i], ib[j]
            lo_m = max(a[0], b[0])
            hi_m = min(a[1], b[1])
            if hi_m > lo_m:
                lo0, lo1 = (a[2], a[3]) if a[0] >= b[0] else (b[2], b[3])
                hi0, hi1 = (a[4], a[5]) if a[1] <= b[1] else (b[4], b[5])
                ring = np.array([(x0, lo0), (x1, lo1),
                                 (x1, hi1), (x0, hi0)])
                if ring_area(ring) > 0.0:
                    out.append([ring])
            if a[1] < b[1]:
                i += 1
            else:
                j += 1
    return out


def ring_is_convex(ring) -> bool:
    """True when the ring is convex — the dispatch test between the
    fast Sutherland-Hodgman clip (exact for convex subjects) and the
    general slab clip.

    Two conditions, both required: all non-zero turn cross-products
    share one sign (collinear runs allowed) AND the total turning is a
    single revolution (|sum of exterior angles| ~ 2*pi). Same-sign
    turns alone also pass for SELF-INTERSECTING star traversals
    (a pentagram turns 720 deg, every turn the same sign), which are
    exactly the subjects Sutherland-Hodgman bridges wrongly — those
    must route to the general clip."""
    r = _closed(np.asarray(ring, dtype=np.float64))
    if len(r) < 4:
        return True
    a = np.roll(r, -1, axis=0) - r
    b = np.roll(a, -1, axis=0)
    cross = a[:, 0] * b[:, 1] - a[:, 1] * b[:, 0]
    nz = cross[np.abs(cross) > 0.0]
    if len(nz) and not ((nz > 0).all() or (nz < 0).all()):
        return False
    dot = a[:, 0] * b[:, 0] + a[:, 1] * b[:, 1]
    turning = float(np.abs(np.arctan2(cross, dot).sum()))
    # a simple convex ring turns exactly once (2*pi); 0 covers the
    # fully-collinear degenerate the sign test already allows
    return abs(turning - 2.0 * np.pi) < 1e-6 or turning < 1e-6
