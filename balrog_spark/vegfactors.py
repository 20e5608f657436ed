"""All-intersecting-polygons BAL factors (the reference's full Auto BAL
Assessment fan-out): ONE OUTPUT ROW PER (address buffer ∩ vegetation
polygon part), not just the k=1 nearest polygon.

Reference lifecycle (data_prep/vegetation/xx_fiona_testing.py:133-150):
buffer the address point, filter vegetation by the buffer, clip each
intersecting polygon to the buffer (``buffer.intersection(veg_geom)``),
explode MultiPolygon fallout, then per clipped polygon
(xx_fiona_testing.py:203-221): nearest-point distance + azimuth + evidence
LineString, and per-polygon zonal median aspect/slope. Output schema
mirrors data_prep/vegetation/05_create_tables.sql:7-18 (gid, bal_number,
area_m2, azimuth, distance_m, aspect, slope, geom, line_geom).

Engine shape (Spark-first):

1. candidate pairs via the dwithin cover equi-join (radius-padded cell
   cover, broadcast or shuffle by byte estimate — joins.polygon_cover);
2. ONE mapInPandas pass per candidate batch does the geometry: rows are
   grouped by polygon (groupby("wkt").indices) and each part's distance
   and PIP run vectorized over its candidate rows; every (row, convex
   hole-free part) pair that can reach the buffer is then clipped in ONE
   batched Sutherland-Hodgman pass against the rows' buffer polygons
   (geometry.clip_rings_to_convex), while concave or holed parts take the
   exact slab clip (geometry.clip_polys_general) pair by pair; per piece:
   exact area, nearest point / distance / azimuth / line WKT, clip WKT +
   bbox columns;
3. per-clip zonal medians run through zonal.zonal_stats_poly — the bbox
   columns keep its tile join and window crop in codegen, the shuffle
   ships cropped windows only.

Distance semantics follow shapely nearest_points on the CLIPPED geometry:
0 (and azimuth 0, degenerate line) when the address point lies inside the
clipped polygon — the reference's documented behaviour
(xx_fiona_testing.py:216 "will return distance, bearing = 0 when
coordinates are in vegetation").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from . import cells, geometry, joins

VEG_FACTORS_SCHEMA = StructType([
    StructField("addr_id", StringType(), False),
    StructField("veg_id", StringType(), False),
    StructField("bal_number", LongType(), True),
    StructField("part_idx", LongType(), False),
    StructField("area_m2", DoubleType(), False),
    StructField("distance_m", DoubleType(), False),
    StructField("azimuth_deg", DoubleType(), False),
    StructField("near_x", DoubleType(), False),
    StructField("near_y", DoubleType(), False),
    StructField("xmin", DoubleType(), False),
    StructField("ymin", DoubleType(), False),
    StructField("xmax", DoubleType(), False),
    StructField("ymax", DoubleType(), False),
    StructField("clip_wkt", StringType(), False),
    StructField("line_wkt", StringType(), False),
])


def veg_factors(points: DataFrame, polys: DataFrame = None,
                radius_m: float = 100.0,
                quad_segs: int = 4,
                cell_m: float = cells.DEFAULT_CELL_M,
                broadcast_cover: bool | None = None,
                cover: DataFrame | None = None) -> DataFrame:
    """One row per (point buffer ∩ polygon part) with clip geometry, exact
    clipped area, nearest-point distance/azimuth and the evidence
    LineString. ``points``: (addr_id, x, y); ``polys``: (veg_id,
    bal_number, wkt). Pairs whose clip is empty produce no row (the
    reference's fiona filter is bbox-based and its intersection may be
    empty; only real intersections reach the output table).

    The buffer is the engine's quad_segs-per-quadrant polygonal circle
    (geometry.buffer_point), the same construction as the reference's
    st_buffer(geography, r, 4) buffers (reference:
    data_prep/gnaf/create_buffered_points.sql:10).

    MultiPolygon fallout: one row per SOURCE part whose clip is non-empty
    (part_idx). Clip exactness: convex hole-free parts take the
    Sutherland-Hodgman fast path (exact for convex subjects); concave or
    holed parts dispatch to the exact slab clip
    (geometry.clip_polys_general), so a disconnected intersection emits
    a correct MULTIPOLYGON clip with exact area and distance — one row
    per source part either way.

    ``cover``: a pre-built cover (joins.save_cover) — MUST have been
    saved with ``pad_m`` equal to this radius."""
    if cover is None:
        cover = joins.polygon_cover(polys, cell_m, pad_m=radius_m)
        if broadcast_cover is None:
            cover, broadcast_cover = joins._probe_cached_cover(cover)
    cover = joins._maybe_broadcast(cover, broadcast_cover)
    pts = joins._spread(joins.with_cell(points, cell_m))
    cand = pts.join(cover, "cell_id")
    cols = [f.name for f in VEG_FACTORS_SCHEMA]

    # nearest-point reuse bound: a source-part nearest point STRICTLY
    # inside the buffer polygon's inradius is on the clip's boundary too,
    # so the vectorized per-part distance IS the clip distance there; only
    # the thin annulus band [inradius, radius] needs the exact per-piece
    # fallback
    inradius = radius_m * float(np.cos(np.pi / (4 * max(quad_segs, 1)))) \
        - 1e-9

    def refine(batches):
        for pdf in batches:
            xs_all = pdf["x"].to_numpy(np.float64)
            ys_all = pdf["y"].to_numpy(np.float64)
            addr, vid = pdf["addr_id"].to_numpy(), pdf["veg_id"].to_numpy()
            bal = pdf["bal_number"].to_numpy()
            # pass 1, per polygon: part geometry VECTORIZED over its
            # candidate rows (the padded cover join admits ~cell_m-scale
            # neighbours; only true within-radius pairs can clip non-empty
            # since the buffer polygon is inscribed in the radius circle)
            # collects every (row, part) pair that can reach the buffer,
            # in (first appearance of the polygon, row, part) order
            pairs = []   # (row, part_idx, rings, subject, d, nx, ny, ins)
            subjects = []  # exterior rings of the convex hole-free parts
            groups = pdf.groupby("wkt", sort=False).indices
            for wkt, idx in sorted(groups.items(), key=lambda g: g[1][0]):
                parts = joins._geom_of(wkt)
                xs, ys = xs_all[idx], ys_all[idx]
                pre = []
                keep = np.zeros(len(idx), dtype=bool)
                for rings in parts:
                    d, nx, ny = geometry.points_to_polygon_distance(
                        xs, ys, rings)
                    ins = geometry.points_in_polygon(xs, ys, rings)
                    # SH is exact only for CONVEX subjects (convex ∩
                    # convex stays one convex piece); a concave or holed
                    # part whose buffer intersection is disconnected would
                    # get bridged wrong by SH, so those take the exact
                    # slab clip (subject -1). Convexity is a property of
                    # the PART, decided once per part
                    subj = -1
                    if len(rings) == 1 \
                            and geometry.ring_is_convex(rings[0]):
                        subj = len(subjects)
                        subjects.append(rings[0])
                    pre.append((d, nx, ny, ins, subj))
                    keep |= ins | (d <= radius_m)
                for k in np.nonzero(keep)[0]:
                    for pi, (d, nx, ny, ins, subj) in enumerate(pre):
                        if not ins[k] and d[k] > radius_m:
                            continue  # this part cannot reach the buffer
                        pairs.append((idx[k], pi, parts[pi], subj, d[k],
                                      nx[k], ny[k], ins[k]))
            # pass 2: ONE batched SH clip of every convex pair against its
            # address buffer
            rows = np.fromiter((p[0] for p in pairs), np.int64, len(pairs))
            subj_of = np.fromiter((p[3] for p in pairs), np.int64,
                                  len(pairs))
            bufs = geometry.buffer_points_vec(xs_all[rows], ys_all[rows],
                                              radius_m, quad_segs)
            sh = np.nonzero(subj_of >= 0)[0]
            sh_of = np.full(len(pairs), -1)
            sh_of[sh] = np.arange(len(sh))
            sv, sn = geometry.pad_rings(subjects)
            verts, nv = geometry.clip_rings_to_convex(
                sv[subj_of[sh]], sn[subj_of[sh]], bufs[sh])
            sh_box = geometry.ring_bboxes(verts, nv)
            # pass 3: per pair, area, distance and the output row
            out = {c: [] for c in cols}
            for p, (row, pi, rings, _, d_p, nx_p, ny_p, ins_p) in \
                    enumerate(pairs):
                j = sh_of[p]
                if j >= 0:
                    ext = verts[j, :nv[j]]
                    area = geometry.ring_area(ext) if len(ext) >= 3 else 0.0
                    pieces = [[ext]]
                    box = sh_box[j]
                else:
                    pieces = geometry.clip_polys_general([rings],
                                                         [[bufs[p]]])
                    area = sum(geometry.polygon_area(q) for q in pieces)
                    box = None
                if area <= 0.0:
                    continue
                x, y = float(xs_all[row]), float(ys_all[row])
                if ins_p:
                    d, nx, ny, az = 0.0, x, y, 0.0
                elif d_p < inradius:
                    d, nx, ny = float(d_p), float(nx_p), float(ny_p)
                    az = float(geometry.azimuth_deg(x, y, nx, ny))
                else:  # annulus band: exact distance to the clip
                    dd, nxa, nya = geometry.points_to_geom_distance(
                        np.array([x]), np.array([y]), pieces)
                    d, nx, ny = float(dd[0]), float(nxa[0]), float(nya[0])
                    az = float(geometry.azimuth_deg(x, y, nx, ny))
                if box is None:
                    v = np.concatenate([q[0] for q in pieces])
                    box = v.min(axis=0).tolist() + v.max(axis=0).tolist()
                b = bal[row]
                out["addr_id"].append(addr[row])
                out["veg_id"].append(vid[row])
                out["bal_number"].append(
                    None if b is None or pd.isna(b) else int(b))
                out["part_idx"].append(pi)
                out["area_m2"].append(area)
                out["distance_m"].append(d)
                out["azimuth_deg"].append(az)
                out["near_x"].append(nx)
                out["near_y"].append(ny)
                for c, v in zip(("xmin", "ymin", "xmax", "ymax"), box):
                    out[c].append(v)
                out["clip_wkt"].append(
                    geometry.polygon_wkt_rings(pieces[0])
                    if len(pieces) == 1 else
                    geometry.multipolygon_wkt_polys(pieces))
                out["line_wkt"].append(
                    "LINESTRING (%.6f %.6f, %.6f %.6f)" % (x, y, nx, ny))
            yield pd.DataFrame(
                {c: (pd.array(v, dtype="Int64")
                     if c == "bal_number" else v)
                 for c, v in out.items()}, columns=cols)

    return cand.mapInPandas(refine, schema=VEG_FACTORS_SCHEMA)
