"""All-intersecting-polygons BAL factors (veg_factors) + polygon-zone zonal
stats vs brute-force numpy oracles.

Reference semantics under test: one row per (buffer ∩ vegetation polygon
part) with clipped area, nearest-point distance/azimuth (0/0 when the
address sits in vegetation), evidence line, and per-clip zonal medians
(reference: data_prep/vegetation/xx_fiona_testing.py:133-150, 203-221;
output schema 05_create_tables.sql:7-18).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from balrog_spark import corpus, geometry, kernels, vegfactors, zonal

RADIUS = 100.0
INRADIUS = 100.0 * np.cos(np.pi / 16)  # quad_segs=4 buffer inradius


def _box_wkt(x1, y1, x2, y2):
    return (f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, {x1} {y2}, "
            f"{x1} {y1}))")


def _world(spark):
    """Points + polygons exercising every veg_factors row shape: inside,
    outside-near (closed-form box distance), multipolygon fallout, holed
    polygon with the point in the hole, and out-of-reach pairs."""
    pts = [
        ("p_in", 500.0, 500.0),        # inside veg box A
        ("p_near", 650.0, 500.0),      # 30 m east of A's edge
        ("p_multi", 1000.0, 1000.0),   # near both parts of the multipoly
        ("p_hole", 1500.0, 1500.0),    # inside polygon C's hole
        ("p_far", 3000.0, 3000.0),     # nothing within 100 m
        # 99 m west of box E: past the buffer 16-gon's inradius (98.08)
        # but aligned with the vertex direction (angle 0), so the clip is
        # a non-empty sliver and the exact per-piece fallback must fire
        ("p_ann", 3000.0, 500.0),
    ]
    polys = [
        {"veg_id": "A", "bal_number": 1,
         "wkt": _box_wkt(400, 400, 620, 620)},
        {"veg_id": "B", "bal_number": 2,  # two parts straddling p_multi
         "wkt": ("MULTIPOLYGON (((900 960, 980 960, 980 1040, 900 1040, "
                 "900 960)), ((1020 960, 1100 960, 1100 1040, 1020 1040, "
                 "1020 960)))")},
        {"veg_id": "C", "bal_number": 3,  # holed; p_hole in the hole
         "wkt": ("POLYGON ((1400 1400, 1600 1400, 1600 1600, 1400 1600, "
                 "1400 1400), (1480 1480, 1520 1480, 1520 1520, "
                 "1480 1520, 1480 1480))")},
        {"veg_id": "D", "bal_number": 4,  # far from everything
         "wkt": _box_wkt(5000, 5000, 5100, 5100)},
        {"veg_id": "E", "bal_number": 5,  # annulus band target for p_ann
         "wkt": _box_wkt(3099, 460, 3160, 540)},
    ]
    sp = spark.createDataFrame(
        pd.DataFrame(pts, columns=["addr_id", "x", "y"]))
    sv = spark.createDataFrame(pd.DataFrame(polys))
    return sp, sv


def test_veg_factors_rows_and_values(spark):
    sp, sv = _world(spark)
    got = vegfactors.veg_factors(sp, sv, RADIUS).toPandas()
    got = got.set_index(["addr_id", "veg_id", "part_idx"]).sort_index()

    # exactly the intersecting (pair, part) combinations appear
    assert set(got.index) == {
        ("p_in", "A", 0), ("p_near", "A", 0),
        ("p_multi", "B", 0), ("p_multi", "B", 1),
        ("p_hole", "C", 0), ("p_ann", "E", 0),
    }

    # inside vegetation: distance, azimuth = 0 and a degenerate line
    r = got.loc[("p_in", "A", 0)]
    assert r.distance_m == 0.0 and r.azimuth_deg == 0.0
    assert r.line_wkt == "LINESTRING (500.000000 500.000000, " \
        "500.000000 500.000000)"

    # outside, nearest box point within the buffer's inradius: distance is
    # the exact box distance, nearest point on the box edge, azimuth west
    r = got.loc[("p_near", "A", 0)]
    assert 30.0 < INRADIUS
    assert r.distance_m == pytest.approx(30.0, abs=1e-9)
    assert r.near_x == pytest.approx(620.0, abs=1e-9)
    assert r.near_y == pytest.approx(500.0, abs=1e-9)
    assert r.azimuth_deg == pytest.approx(-90.0, abs=1e-9)

    # multipolygon fallout: one row per part, each with its own nearest
    b0 = got.loc[("p_multi", "B", 0)]
    b1 = got.loc[("p_multi", "B", 1)]
    assert b0.distance_m == pytest.approx(20.0, abs=1e-9)  # to x=980
    assert b1.distance_m == pytest.approx(20.0, abs=1e-9)  # to x=1020
    assert b0.azimuth_deg == pytest.approx(-90.0, abs=1e-9)
    assert b1.azimuth_deg == pytest.approx(90.0, abs=1e-9)

    # point inside the hole: OUTSIDE the polygon, distance to hole ring
    r = got.loc[("p_hole", "C", 0)]
    assert r.distance_m == pytest.approx(20.0, abs=1e-9)

    # annulus band (inradius < d <= radius): the part's nearest point is
    # past the inradius fast path, so the exact distance-to-clip fallback
    # runs — the sliver's west edge is x=3099 and y=500 lies on it, so
    # the distance to the clip equals the distance to the part
    r = got.loc[("p_ann", "E", 0)]
    assert INRADIUS < 99.0 <= RADIUS
    assert r.distance_m == pytest.approx(99.0, abs=1e-9)
    assert r.near_x == pytest.approx(3099.0, abs=1e-9)
    assert r.near_y == pytest.approx(500.0, abs=1e-9)
    assert r.azimuth_deg == pytest.approx(90.0, abs=1e-9)
    assert 0.0 < r.area_m2 < 20.0  # a thin vertex sliver

    # every clipped area agrees with the independent slab-sweep
    # intersection of the source geometry and the buffer 16-gon
    src = {p["veg_id"]: geometry.parse_wkt_polys(p["wkt"])
           for p in [{"veg_id": "A", "wkt": _box_wkt(400, 400, 620, 620)},
                     ]}
    pos = {"p_in": (500.0, 500.0), "p_near": (650.0, 500.0),
           "p_multi": (1000.0, 1000.0), "p_hole": (1500.0, 1500.0),
           "p_ann": (3000.0, 500.0)}
    sv_pdf = sv.toPandas().set_index("veg_id")
    per_pair = got.groupby(["addr_id", "veg_id"]).area_m2.sum()
    for (aid, vid), area in per_pair.items():
        buf = geometry.buffer_point(*pos[aid], RADIUS, quad_segs=4)
        exp = geometry.intersection_area(
            geometry.parse_wkt_polys(sv_pdf.loc[vid].wkt), [[buf]])
        assert area == pytest.approx(exp, abs=1e-6), (aid, vid)

    # clip polygons are within both the buffer bbox and the source bbox
    for (aid, vid, _), r in got.iterrows():
        x, y = pos[aid]
        assert r.xmin >= x - RADIUS - 1e-9 and r.xmax <= x + RADIUS + 1e-9


def test_veg_factors_cover_strategies_agree(spark):
    sp, sv = _world(spark)
    cols = ["addr_id", "veg_id", "part_idx", "area_m2", "distance_m",
            "azimuth_deg", "clip_wkt", "line_wkt"]
    a = vegfactors.veg_factors(sp, sv, RADIUS, broadcast_cover=True) \
        .toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    b = vegfactors.veg_factors(sp, sv, RADIUS, broadcast_cover=False) \
        .toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


NX, NY = 2, 2


@pytest.fixture(scope="module")
def dem_tiles(spark):
    return corpus.spark_tiles(spark, NX, NY, layers=("dem",)) \
        .filter(F.col("layer") == "dem").cache()


def _zone_rows():
    t = corpus.TILE_M
    return [
        # axis box inside tile 0
        ("z_box", _box_wkt(40.0, 40.0, 260.0, 180.0)),
        # triangle spanning a tile boundary
        ("z_tri", f"POLYGON ((100 100, {t + 150} 120, 300 {t - 60}, "
                  "100 100))"),
        # holed box
        ("z_hole", "POLYGON ((30 30, 400 30, 400 400, 30 400, 30 30), "
                   "(100 100, 300 100, 300 300, 100 300, 100 100))"),
        # zone with no stored tiles under it -> sentinel
        ("z_off", _box_wkt(9000.0, 9000.0, 9100.0, 9100.0)),
    ]


def _zones_df(spark):
    rows = []
    for zid, wkt in _zone_rows():
        ring = geometry.parse_wkt_polys(wkt)[0][0]
        x0, y0, x1, y1 = geometry.bbox(ring)
        rows.append((zid, wkt, x0, y0, x1, y1))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["zone_id", "wkt", "xmin", "ymin",
                                    "xmax", "ymax"]))


def test_zonal_stats_poly_matches_bruteforce(spark, dem_tiles):
    zones = _zones_df(spark)
    got = zonal.zonal_stats_poly(zones, dem_tiles,
                                 {"dem": {"circular": False}}) \
        .toPandas().set_index("zone_id")
    assert set(got.index) == {z for z, _ in _zone_rows()}

    n = corpus.TILE_N
    for zid, wkt in _zone_rows():
        polys = geometry.parse_wkt_polys(wkt)
        vals = []
        for tx in range(NX):
            for ty in range(NY):
                dem, _ = corpus.tile_arrays(tx, ty)
                xs = tx * corpus.TILE_M + (np.arange(n) + 0.5) \
                    * corpus.PIXEL_M
                ys = ty * corpus.TILE_M + (n - np.arange(n) - 0.5) \
                    * corpus.PIXEL_M
                gx = np.broadcast_to(xs[None, :], (n, n)).ravel()
                gy = np.broadcast_to(ys[:, None], (n, n)).ravel()
                inside = geometry.points_in_geom(gx, gy, polys)
                v = dem.ravel()[inside]
                vals.append(v[v != -99.0])
        exp = kernels.zonal_stats_1d(np.concatenate(vals))
        row = got.loc[zid]
        for k in ("min", "max", "avg", "std", "med", "pixel_count"):
            assert row[f"dem_{k}"] == exp[k], f"{zid} {k}"
    # the off-grid zone really is the sentinel row
    assert got.loc["z_off", "dem_pixel_count"] == -9999


def test_zonal_stats_poly_batching_invariant(spark, dem_tiles):
    zones = _zones_df(spark)
    spec = {"dem": {"circular": False}}
    a = zonal.zonal_stats_poly(zones, dem_tiles, spec, batch_m=64.0) \
        .toPandas().sort_values("zone_id").reset_index(drop=True)
    b = zonal.zonal_stats_poly(zones, dem_tiles, spec, batch_m=1e9) \
        .toPandas().sort_values("zone_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_veg_factors_concave_disconnected_clip(spark):
    """A concave (U-shaped) vegetation polygon whose buffer intersection
    is DISCONNECTED: the convex-SH shortcut would bridge the two prongs
    and report the wrong area, so the refine must dispatch to the exact
    slab clip (geometry.clip_polys_general). Area is checked against the
    independent sweep and the clip WKT must reproduce the exact region
    pointwise."""
    # U opens toward the point: prongs at x in [60,80] and [120,140],
    # base far away at x in [60,140], y in [300,340]
    u_wkt = ("POLYGON ((60 60, 80 60, 80 300, 120 300, 120 60, 140 60, "
             "140 340, 60 340, 60 60))")
    sp = spark.createDataFrame(
        pd.DataFrame([("p", 100.0, 30.0)], columns=["addr_id", "x", "y"]))
    sv = spark.createDataFrame(pd.DataFrame(
        [{"veg_id": "U", "bal_number": 1, "wkt": u_wkt}]))
    got = vegfactors.veg_factors(sp, sv, RADIUS).toPandas()
    assert len(got) == 1
    r = got.iloc[0]

    buf = geometry.buffer_point(100.0, 30.0, RADIUS, quad_segs=4)
    src = geometry.parse_wkt_polys(u_wkt)
    want_area = geometry.intersection_area(src, [[buf]])
    assert r.area_m2 == pytest.approx(want_area, abs=1e-6)
    # the clip went through the general path and is genuinely
    # disconnected: a MULTIPOLYGON with parts on both prongs, none
    # between them (SH-area divergence itself is pinned separately in
    # tests/test_geometry_clip.py — on this symmetric U the SH bridges
    # happen to cancel, which is exactly why area alone can't be the
    # dispatch criterion)
    assert r.clip_wkt.startswith("MULTIPOLYGON")
    clip_parts = geometry.parse_wkt_polys(r.clip_wkt)
    assert len(clip_parts) >= 2
    mid = geometry.points_in_geom(np.array([100.0]), np.array([30.0]),
                                  clip_parts)
    assert not mid[0]          # the gap between prongs is not covered

    # nearest source point is the west prong's bottom corner (80, 60)
    # (the point sits below the prong bottoms at y=30)
    assert r.distance_m == pytest.approx(np.hypot(20.0, 30.0), abs=1e-9)
    assert r.near_x == pytest.approx(80.0, abs=1e-9)
    assert r.near_y == pytest.approx(60.0, abs=1e-9)
    assert r.azimuth_deg == pytest.approx(
        float(geometry.azimuth_deg(100.0, 30.0, 80.0, 60.0)), abs=1e-9)

    # clip WKT is the exact region: pointwise == (in U) & (in buffer)
    clip = geometry.parse_wkt_polys(r.clip_wkt)
    rng = np.random.default_rng(5)
    px = rng.uniform(0, 200, 4000)
    py = rng.uniform(-70, 140, 4000)
    got_in = geometry.points_in_geom(px, py, clip)
    want_in = geometry.points_in_geom(px, py, src) \
        & geometry.points_in_geom(px, py, [[buf]])
    # WKT coords are rounded to 1e-6 -> allow a vanishing boundary band
    assert (got_in != want_in).mean() < 2e-3


def _mixed_world(spark):
    """Every refine and zonal-mask path in one Arrow batch and one batch
    cell: convex boxes and a two-part MULTIPOLYGON veg (batched SH clip,
    single-ring zones: batched mask), a concave U whose clip is
    disconnected and a holed polygon straddling a tile edge (slab clip,
    MULTIPOLYGON zones: per-window mask)."""
    pts = [("q_box", 300.0, 300.0), ("q_multi", 700.0, 300.0),
           ("q_u", 1100.0, 230.0), ("q_hole", 1600.0, 300.0)]
    polys = [
        ("box1", 1, _box_wkt(230, 250, 290, 330)),
        ("box2", 2, _box_wkt(320, 200, 420, 280)),
        ("mp", 3, "MULTIPOLYGON (((620 260, 680 260, 680 340, 620 340, "
                  "620 260)), ((720 280, 790 280, 790 320, 720 320, "
                  "720 280)))"),
        ("U", 4, "POLYGON ((1060 260, 1080 260, 1080 500, 1120 500, "
                 "1120 260, 1140 260, 1140 540, 1060 540, 1060 260))"),
        ("H", 5, "POLYGON ((1520 220, 1680 220, 1680 380, 1520 380, "
                 "1520 220), (1580 280, 1620 280, 1620 320, 1580 320, "
                 "1580 280))"),
    ]
    return (spark.createDataFrame(
                pd.DataFrame(pts, columns=["addr_id", "x", "y"])),
            spark.createDataFrame(
                pd.DataFrame(polys, columns=["veg_id", "bal_number",
                                             "wkt"])))


def _mixed_rows(spark):
    """veg_factors -> per-clip zonal_stats_poly over dem + veg tiles,
    the flagship_veg_factors chain; one tuple per clip row."""
    import hashlib
    sp, sv = _mixed_world(spark)
    vf = vegfactors.veg_factors(sp, sv, RADIUS).localCheckpoint()
    zones = vf.select(
        F.concat_ws("|", "addr_id", "veg_id", "part_idx").alias("zone_id"),
        F.col("clip_wkt").alias("wkt"), "xmin", "ymin", "xmax", "ymax")
    tiles = corpus.spark_tiles(spark, NX, NY, layers=("dem", "veg"))
    z = zonal.zonal_stats_poly(
        zones, tiles, {"dem": {"circular": False},
                       "veg": {"circular": True}}, batch_m=1e6)
    stats = [f"{lay}_{s}" for lay in ("dem", "veg")
             for s in ("min", "max", "avg", "std", "med", "pixel_count")]
    out = vf.withColumn("zone_id", F.concat_ws(
        "|", "addr_id", "veg_id", "part_idx")).join(z, "zone_id")
    return sorted(
        (r.zone_id, r.clip_wkt.split(" ")[0],
         hashlib.md5(r.clip_wkt.encode()).hexdigest()[:12],
         r.area_m2, r.distance_m, r.azimuth_deg,
         tuple(r[s] for s in stats)) for r in out.collect())


# pinned from the per-pair clip and per-row mask implementation this
# batched one replaced: vertices, areas and pixel sets are bit-identical
MIXED_ROWS = [
    ('q_box|box1|0', 'POLYGON', 'c5a4fa046949',
     4800.0, 10.0, -90.0,
     (376, 384, 381, 2, 381, 9, 12, 12, 12, 0, 12, 9)),
    ('q_box|box2|0', 'POLYGON', '837bd39d92ef',
     4133.233594253688, 28.284271247461902, 135.0,
     (383, 386, 384, 1, 384, 6, 12, 12, 12, 0, 12, 6)),
    ('q_hole|H|0', 'MULTIPOLYGON', 'f2d9115c43b1',
     23138.25656518538, 20.0, 180.0,
     (273, 310, 287, 9, 287, 32, 10, 18, 14, 4, 14, 32)),
    ('q_multi|mp|0', 'POLYGON', '2d68f29acfde',
     4800.0, 20.0, -90.0,
     (405, 413, 409, 2, 410, 8, 99, 99, 99, 0, 99, 8)),
    ('q_multi|mp|1', 'POLYGON', '05ea7d083249',
     2800.0, 20.0, 90.0,
     (427, 439, 433, 4, 433, 6, 99, 99, 99, 0, 99, 6)),
    ('q_u|U|0', 'MULTIPOLYGON', 'bfc471524d83',
     2559.898000812391, 36.05551275463989, -33.69006752597979,
     (430, 461, 445, 10, 444, 6, 5, 5, 5, 0, 5, 6)),
]


@pytest.mark.parametrize("one_partition", [True, False])
def test_veg_factors_mixed_paths_pinned(spark, one_partition, monkeypatch):
    from pyspark import SparkContext
    if one_partition:
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self: 1))
    got = _mixed_rows(spark)
    # both clip paths and both mask paths fired
    assert {g[1] for g in got} == {"POLYGON", "MULTIPOLYGON"}
    assert got == MIXED_ROWS
