"""Spatial joins as cell equi-joins + exact numpy refinement.

Spark has no spatial index; the reference leans on PostGIS GiST indexes and
fiona bbox masks (reference: testing/test_gdal.py:127,138,
data_prep/vegetation/xx_fiona_testing.py:133-136). The engine's substitute:

1. polygons -> grid-cell *cover* rows (cell_id, poly...) — tiny vs the point
   side, broadcast when it fits;
2. points -> cell_id via pure column arithmetic (no UDF);
3. equi-join on cell_id (hash/broadcast — Catalyst's choice, AQE-skew-safe);
4. exact geometry refinement vectorized inside one mapInPandas pass, grouping
   each Arrow batch by polygon so every ring is parsed once and tested
   against all its candidate points at once.

kNN uses iterative ring expansion with a distance lower bound
((ring-1) * cell_m) so each point stops as soon as no unexamined cell can
hold anything closer — the driver loop runs O(max_ring) Spark jobs over a
shrinking unresolved set (reference behaviour: shapely nearest_points over a
250 m fiona mask, reference: data_prep/vegetation/xx_fiona_testing.py:203-217).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from . import cells, geometry

# worker-global parsed-polygon cache: candidate batches repeat the same WKT
# strings across pandas groups, so parse each polygon once per executor
_POLY_CACHE: dict = {}


def _geom_of(wkt: str):
    """WKT -> list of polygons, each [exterior, hole, ...] rings."""
    polys = _POLY_CACHE.get(wkt)
    if polys is None:
        if len(_POLY_CACHE) > 50000:
            _POLY_CACHE.clear()
        polys = geometry.parse_wkt_polys(wkt)
        _POLY_CACHE[wkt] = polys
    return polys


# auto broadcast thresholds: the decision is by estimated BYTES (cover rows
# x mean WKT length), not rows alone — 300k rows of multi-KB subdivided
# multipolygon WKT is a multi-GB replicate-per-executor broadcast that a
# row count waves through. Above either bound the join falls back to a
# shuffle hash/SMJ on cell_id, which distributes the cover bytes instead
# of replicating them (reference scale: 9.4M NVIS polygons).
AUTO_BROADCAST_MAX_COVER_ROWS = 300_000
AUTO_BROADCAST_MAX_COVER_BYTES = 512 << 20
_WKT_ROW_OVERHEAD_B = 64  # ids + struct framing per cover row


def _cover_fits_broadcast(cover: DataFrame) -> bool:
    """ONE truncated job over the (tiny vs points) cover side: count rows
    up to the row cap and average the WKT length over that same prefix;
    broadcast only if both the row AND estimated-byte bounds hold."""
    probe = (cover.limit(AUTO_BROADCAST_MAX_COVER_ROWS + 1)
             .agg(F.count("*").alias("n"),
                  F.avg(F.length("wkt")).alias("w")).collect()[0])
    if probe.n > AUTO_BROADCAST_MAX_COVER_ROWS:
        return False
    est = probe.n * ((probe.w or 0.0) + _WKT_ROW_OVERHEAD_B)
    return est <= AUTO_BROADCAST_MAX_COVER_BYTES


def _maybe_broadcast(cover: DataFrame, broadcast_cover):
    """broadcast_cover True/False forces the strategy; None = auto by the
    byte-based estimate above (one lightweight job over the cover side)."""
    if broadcast_cover is None:
        broadcast_cover = _cover_fits_broadcast(cover)
    return F.broadcast(cover) if broadcast_cover else cover


# MRU-1 slot for pip_join's auto-mode probe cover (see pip_join)
_LAST_PROBE_COVER = None


def _probe_cached_cover(cover: DataFrame):
    """Cache a just-built cover, then run the auto broadcast probe over
    the CACHED frame — without this the probe job computes the cover
    UDF once and the join recomputes it (measured as a full extra
    Python cover scan in dwithin/veg_factors auto mode). Returns
    (cached cover, fits_broadcast). MRU-1 release as in pip_join: the
    previous auto-mode probe cover is unpersisted on the next call (a
    still-pending earlier result simply recomputes its cover)."""
    global _LAST_PROBE_COVER
    if _LAST_PROBE_COVER is not None:
        _LAST_PROBE_COVER.unpersist(blocking=False)
    cover = cover.cache()
    _LAST_PROBE_COVER = cover
    return cover, _cover_fits_broadcast(cover)

_COVER = StructType([
    StructField("cell_id", LongType(), False),
    StructField("veg_id", StringType(), False),
    StructField("bal_number", LongType(), True),
    StructField("wkt", StringType(), False),
])


def with_cell(points: DataFrame, cell_m: float = cells.DEFAULT_CELL_M,
              x="x", y="y") -> DataFrame:
    """Attach the packed cell id with pure column math (stays in codegen).
    SQL twin: (floor(x/c)+524288)*1048576 + floor(y/c)+524288."""
    cx = F.floor(F.col(x) / F.lit(cell_m))
    cy = F.floor(F.col(y) / F.lit(cell_m))
    return points.withColumn(
        "cell_id", ((cx + F.lit(1 << 19)) * F.lit(1 << 20)
                    + cy + F.lit(1 << 19)).cast("long"))


def polygon_cover(polys: DataFrame, cell_m: float = cells.DEFAULT_CELL_M,
                  pad_m: float = 0.0, clip: bool = False) -> DataFrame:
    """Explode polygons to (cell_id, veg_id, bal_number, wkt) cover rows —
    one row per covered cell per polygon PART, bbox cover (+ optional pad
    for distance joins).

    ``clip=True`` emits the polygon CLIPPED to each cell instead of the full
    WKT (the V8-subdivide trick): per-cell bytes stay bounded no matter how
    large the source polygon, which is what makes the non-broadcast shuffle
    path affordable at 9.4M-polygon scale. Valid for PIP only (clipping
    changes boundary distances), so the distance joins keep the full WKT.
    Holes are clipped alongside the exterior — even-odd semantics survive
    intersection with a box.

    ``clip`` and ``pad_m`` are mutually exclusive: a padded cover exists
    so DISTANCE joins see polygons from nearby cells, but clipping to
    the unpadded cell box empties exactly those pad-band cells (the
    polygon is within pad_m of the cell without intersecting it), which
    would silently drop every such match — refuse loudly instead.
    """
    if clip and pad_m:
        raise ValueError(
            "polygon_cover(clip=True, pad_m>0): a clipped cover is "
            "PIP-only; pad-band cells would clip to nothing and the "
            "distance join would silently lose matches — build the "
            "padded cover unclipped")

    def gen(batches):
        for pdf in batches:
            out = {"cell_id": [], "veg_id": [], "bal_number": [], "wkt": []}
            for r in pdf.itertuples():
                parts = geometry.parse_wkt_polys(r.wkt)
                cell_parts: dict = {}
                for pi, rings in enumerate(parts):
                    xmin, ymin, xmax, ymax = geometry.bbox(rings[0])
                    for cid in cells.cover_bbox(
                            xmin - pad_m, ymin - pad_m,
                            xmax + pad_m, ymax + pad_m, cell_m):
                        cell_parts.setdefault(int(cid), []).append(pi)
                kept_ids, wkts = [], []
                for cid, pis in cell_parts.items():
                    if not clip:
                        kept_ids.append(cid)
                        # original WKT verbatim: re-serialization would
                        # round coordinates and perturb oracle distances
                        wkts.append(r.wkt)
                        continue
                    gx, gy = cells.unpack(np.array([cid]))
                    bx0 = float(gx[0]) * cell_m
                    by0 = float(gy[0]) * cell_m
                    pieces = []
                    for pi in pis:
                        rings = parts[pi]
                        ext = geometry.clip_ring_to_box(
                            rings[0], bx0, by0, bx0 + cell_m, by0 + cell_m)
                        if len(ext) < 3 or geometry.ring_area(ext) <= 0:
                            continue
                        piece = [ext]
                        for hole in rings[1:]:
                            hp = geometry.clip_ring_to_box(
                                hole, bx0, by0, bx0 + cell_m, by0 + cell_m)
                            if len(hp) >= 3 and geometry.ring_area(hp) > 0:
                                piece.append(hp)
                        pieces.append(piece)
                    if pieces:
                        kept_ids.append(cid)
                        wkts.append(geometry.multipolygon_wkt_polys(pieces))
                out["cell_id"].extend(kept_ids)
                out["veg_id"].extend([r.veg_id] * len(kept_ids))
                # null-safe: a malformed source token parses to NULL
                # (NaN here) — keep it null, never int(NaN) (crash) or
                # astype garbage
                bal = getattr(r, "bal_number", 0)
                bal = None if bal is None or pd.isna(bal) else int(bal)
                out["bal_number"].extend([bal] * len(kept_ids))
                out["wkt"].extend(wkts)
            yield pd.DataFrame(
                {k: (pd.array(v, dtype="Int64")
                     if k == "bal_number" else v)
                 for k, v in out.items()})

    return polys.mapInPandas(gen, schema=_COVER)


def _refine_schema(extra_cols):
    fields = [StructField("addr_id", StringType(), False),
              StructField("veg_id", StringType(), False),
              StructField("bal_number", LongType(), True)]
    for c in extra_cols:
        fields.append(StructField(c, DoubleType(), True))
    return StructType(fields)


# a straggler frontier at or below this many points is cheap to broadcast
# as the SMALL side of the final exact cross join (~40 B/point -> ~2 MB);
# above it, ring doubling keeps shrinking the frontier first
STRAGGLER_DIRECT_MAX = 50_000

# skip remaining ring rounds and finish pending points exactly when the
# cross-join candidate count (pending x cover rows, a conservative upper
# bound on pending x polygons) is below this: each extra ring round costs
# several fixed-latency jobs (annulus explode + join + argmin + checkpoint)
# that dwarf a small distributed cross join. At production scale a large
# pending set keeps ringing; the budget only short-circuits the tail.
DIRECT_PAIR_BUDGET = 50_000_000


def _spread(df: DataFrame, key: str = "addr_id") -> DataFrame:
    """Repartition the (large) probe side across the cluster. Broadcast
    joins preserve the probe side's partitioning, so a single-file parquet
    scan would otherwise serialize every downstream refine UDF."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key)


def pip_join(points: DataFrame, polys: DataFrame = None,
             cell_m: float = cells.DEFAULT_CELL_M,
             broadcast_cover: bool | None = None,
             cover: DataFrame | None = None) -> DataFrame:
    """Point-in-polygon join (V9/J2): returns (addr_id, veg_id, bal_number)
    for every point strictly inside a polygon (holes excluded, even-odd).

    ``broadcast_cover``: True broadcasts the full-WKT cover (small layers);
    False shuffle-joins a cell-CLIPPED cover (bounded per-cell bytes — the
    9.4M-polygon path); None auto-selects by estimated cover bytes.

    ``cover``: a PRE-BUILT cover (see :func:`save_cover` — the
    index-once-probe-many move for a static national layer: repeated
    joins skip the cover explode, and a cell_id-bucketed saved cover
    also skips its side of the shuffle exchange). Must have been built
    with the same ``cell_m``; an unclipped cover on the shuffle path is
    correct, just heavier than the clipped one this function would
    build."""
    if cover is not None:
        if broadcast_cover is None:
            broadcast_cover = _cover_fits_broadcast(cover)
    elif broadcast_cover is None:
        # cache the unclipped cover for the probe: if the decision is
        # "broadcast" the cached rows are reused as the real build side
        # (no second cover computation). The returned frame is lazy, so
        # there is no safe release point INSIDE this call — instead the
        # NEXT auto-mode call releases the previous probe cover (MRU-1:
        # the leak is bounded to one cached cover per session instead
        # of one per call; a still-pending earlier result simply
        # recomputes its cover if collected after that).
        global _LAST_PROBE_COVER
        if _LAST_PROBE_COVER is not None:
            _LAST_PROBE_COVER.unpersist(blocking=False)
        probe_cover = polygon_cover(polys, cell_m).cache()
        _LAST_PROBE_COVER = probe_cover
        broadcast_cover = _cover_fits_broadcast(probe_cover)
        if broadcast_cover:
            cover = probe_cover
        else:
            # the cached probe served only the byte estimate here
            probe_cover.unpersist(blocking=False)
            _LAST_PROBE_COVER = None
            cover = polygon_cover(polys, cell_m, clip=True)
    else:
        cover = polygon_cover(polys, cell_m, clip=not broadcast_cover)
    if broadcast_cover:
        cover = F.broadcast(cover)
    pts = _spread(with_cell(points, cell_m))
    cand = pts.join(cover, "cell_id")

    def refine(batches):
        for pdf in batches:
            keep = []
            for wkt, grp in pdf.groupby("wkt", sort=False):
                geom = _geom_of(wkt)
                inside = geometry.points_in_geom(
                    grp.x.values, grp.y.values, geom)
                if inside.any():
                    sub = grp[inside]
                    keep.append(pd.DataFrame({
                        "addr_id": sub.addr_id.values,
                        "veg_id": sub.veg_id.values,
                        "bal_number": pd.array(
                            sub.bal_number.values, dtype="Int64"),
                    }))
            yield (pd.concat(keep) if keep
                   else pd.DataFrame(columns=["addr_id", "veg_id",
                                              "bal_number"]))

    return cand.mapInPandas(refine, schema=_refine_schema([]))


def dwithin_join(points: DataFrame, polys: DataFrame = None,
                 radius_m: float = 100.0,
                 cell_m: float = cells.DEFAULT_CELL_M,
                 broadcast_cover: bool | None = None,
                 cover: DataFrame | None = None) -> DataFrame:
    """Distance-within join (V10/J3): pairs with point-to-polygon distance
    <= radius (0 inside; hole boundaries count — a point inside a hole is
    outside and measures to the hole ring). Cover is padded by the radius so
    one equi-join suffices. Non-broadcast covers shuffle-join on cell_id
    (distance needs the full WKT, so bytes shrink by distribution, not
    clipping). A pre-built ``cover`` (see :func:`save_cover`) MUST have
    been saved with ``pad_m`` equal to this radius."""
    if cover is None:
        cover = polygon_cover(polys, cell_m, pad_m=radius_m)
        if broadcast_cover is None:
            cover, broadcast_cover = _probe_cached_cover(cover)
    cover = _maybe_broadcast(cover, broadcast_cover)
    pts = _spread(with_cell(points, cell_m))
    cand = pts.join(cover, "cell_id")

    def refine(batches):
        for pdf in batches:
            keep = []
            for wkt, grp in pdf.groupby("wkt", sort=False):
                geom = _geom_of(wkt)
                d, _, _ = geometry.points_to_geom_distance(
                    grp.x.values, grp.y.values, geom)
                inside = geometry.points_in_geom(
                    grp.x.values, grp.y.values, geom)
                d = np.where(inside, 0.0, d)
                ok = d <= radius_m
                if ok.any():
                    sub = grp[ok]
                    keep.append(pd.DataFrame({
                        "addr_id": sub.addr_id.values,
                        "veg_id": sub.veg_id.values,
                        "bal_number": pd.array(
                            sub.bal_number.values, dtype="Int64"),
                        "distance_m": d[ok],
                    }))
            if keep:
                yield pd.concat(keep)
            else:
                yield pd.DataFrame(columns=["addr_id", "veg_id",
                                            "bal_number", "distance_m"])

    return cand.mapInPandas(refine,
                            schema=_refine_schema(["distance_m"]))


def _argmin_per_addr(scored: DataFrame, out_schema) -> DataFrame:
    """Per-point argmin as a HASH AGGREGATE (min_by over a struct ordering
    key — map-side partial combine), not a window sort: deterministic
    tie-break (distance, then veg_id asc; ids are zero-padded so string
    order equals numeric)."""
    payload = [f.name for f in out_schema if f.name != "addr_id"]
    agg = scored.groupBy("addr_id").agg(
        F.min_by(F.struct(*payload),
                 F.struct(F.col("distance_m"), F.col("veg_id")))
        .alias("m"))
    return agg.select("addr_id",
                      *[F.col(f"m.{c}").alias(c) for c in payload])


def _topk_per_addr(scored: DataFrame, out_schema, k: int) -> DataFrame:
    """Per-point top-k by (distance, veg_id). k=1 keeps the hash-aggregate
    argmin (no window, map-side combine). k>1: candidates are first
    deduplicated per (addr, veg) — the same polygon reaches a point
    through every cover cell it spans, and duplicates must not occupy
    ranks — then ranked with a window PARTITIONED by addr_id (never a
    global sort). Adds ``nn_rank`` (1-based) for k>1."""
    if k == 1:
        return _argmin_per_addr(scored, out_schema)
    from pyspark.sql import Window

    payload = [f.name for f in out_schema if f.name != "addr_id"]
    dd = scored.groupBy("addr_id", "veg_id").agg(
        F.min_by(F.struct(*payload),
                 F.struct(F.col("distance_m"), F.col("veg_id")))
        .alias("m"))
    w = Window.partitionBy("addr_id").orderBy(
        F.col("m.distance_m").asc(), F.col("m.veg_id").asc())
    return dd.withColumn("nn_rank",
                         F.row_number().over(w).cast("long")) \
        .filter(F.col("nn_rank") <= k) \
        .select("addr_id",
                *[F.col(f"m.{c}").alias(c) for c in payload], "nn_rank")


def _clamped_annulus(unresolved: DataFrame, r: int, prev: int,
                     cov_bounds) -> DataFrame:
    """Probe cells for one ring-doubling round: Chebyshev annulus
    (prev, r] around each point's cell, CLAMPED to the cover's cell
    bounding box ``cov_bounds`` (gx0/gx1/gy0/gy1). Generated row volume is
    bounded by min(annulus, cover-bbox window) per point — a far-frontier
    sparse world pays O(cover extent), never O(r^2). Pure column
    explode(sequence): plan size O(1) in r."""
    pgx = F.expr("cell_id DIV 1048576")
    pgy = F.expr("cell_id % 1048576")

    def clamped_seq(lo_bound: int, hi_bound: int, g):
        lo = F.greatest(F.lit(-r), F.lit(int(lo_bound)) - g)
        hi = F.least(F.lit(r), F.lit(int(hi_bound)) - g)
        return F.when(lo <= hi, F.sequence(lo, hi)) \
            .otherwise(F.array().cast("array<bigint>"))

    return (unresolved
            .select("addr_id", "x", "y", "cell_id",
                    F.explode(clamped_seq(cov_bounds.gx0,
                                          cov_bounds.gx1, pgx))
                    .alias("dx"))
            .select("addr_id", "x", "y", "cell_id", "dx",
                    F.explode(clamped_seq(cov_bounds.gy0,
                                          cov_bounds.gy1, pgy))
                    .alias("dy"))
            .filter(F.greatest(F.abs("dx"), F.abs("dy")) > F.lit(prev))
            .select("addr_id", "x", "y",
                    (F.col("cell_id") + F.col("dx") * F.lit(1 << 20)
                     + F.col("dy")).alias("probe_cell")))


def knn_join(points: DataFrame, polys: DataFrame = None,
             max_ring: int = 8,
             cell_m: float = cells.DEFAULT_CELL_M,
             broadcast_cover: bool | None = None,
             cover: DataFrame | None = None,
             k: int = 1) -> DataFrame:
    """Nearest-polygon kNN join with bearing (V11): for each point the
    ``k`` closest polygons, each with exact distance (0 if inside),
    nearest boundary point, forward azimuth and evidence line — the
    reference's per-address nearest-vegetation step (reference:
    data_prep/vegetation/xx_fiona_testing.py:203-227; the reference is
    k=1, :212 — k>1 serves the veg_factors/ANN consumers).

    Ring-expansion: examine cover cells at Chebyshev ring r around each
    unresolved point; a point resolves once it holds k candidates AND
    its k-th-best distance <= (r * cell_m), the lower bound on anything
    in ring > r. k>1 output carries ``nn_rank`` (1..k); k=1 output is
    unchanged (no rank column, argmin hash-aggregate path).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_ring < 1:
        # max_ring=0 would pin the straggler ring-doubling at r=0
        # forever (prev*2 never grows) — an infinite driver loop
        raise ValueError(f"max_ring must be >= 1, got {max_ring}")
    spark = points.sparkSession
    own_cover = cover is None
    # one count of the probe side up front (pre-shuffle plan) replaces a
    # full anti-join isEmpty scan of it per ring round below
    n_pts = points.count()

    out_schema = StructType([
        StructField("addr_id", StringType(), False),
        StructField("veg_id", StringType(), False),
        StructField("bal_number", LongType(), True),
        StructField("distance_m", DoubleType(), False),
        StructField("azimuth_deg", DoubleType(), False),
        StructField("near_x", DoubleType(), False),
        StructField("near_y", DoubleType(), False),
        StructField("px", DoubleType(), False),
        StructField("py", DoubleType(), False),
    ])

    def with_line(df: DataFrame) -> DataFrame:
        # evidence LineString point -> nearest boundary point, the
        # reference's line_geom output column (reference:
        # data_prep/vegetation/05_create_tables.sql:17) — pure column
        # string build, no UDF
        return df.withColumn(
            "line_wkt",
            F.format_string("LINESTRING (%.6f %.6f, %.6f %.6f)",
                            F.col("px"), F.col("py"),
                            F.col("near_x"), F.col("near_y")))

    def _empty():
        # no polygons at all: there is no nearest neighbour to find, and
        # the straggler ring-doubling below could never terminate
        empty_schema = out_schema if k == 1 else StructType(
            out_schema.fields + [StructField("nn_rank", LongType(),
                                             False)])
        return with_line(spark.createDataFrame([], empty_schema))

    rank_cols = ["nn_rank"] if k > 1 else []

    # direct-mode pre-check WITHOUT building the cell cover: when the
    # whole point set fits the frontier cap and points x polygons is
    # under the pair budget, the one-pass partial-top-k finish consumes
    # the RAW polygon rows — the cover explode, its cache, its probe and
    # the k_eff distinct count never run. Only when the caller owns the
    # polys side (a pre-built cover has no polys frame to probe).
    go_direct = False
    if own_cover and n_pts <= STRAGGLER_DIRECT_MAX:
        pprobe = (polys.limit(AUTO_BROADCAST_MAX_COVER_ROWS + 1)
                  .agg(F.count("*").alias("n")).collect()[0])
        if pprobe.n == 0:
            return _empty()
        go_direct = (pprobe.n <= AUTO_BROADCAST_MAX_COVER_ROWS
                     and n_pts * pprobe.n <= DIRECT_PAIR_BUDGET)

    n_cover = None
    k_eff = 1
    if not go_direct:
        # cache only a cover built HERE: a caller-passed cover
        # (load_cover bucketed table / already-persisted frame) is the
        # caller's to manage — unconditional caching leaked one cached
        # cover per call in index-once-probe-many sessions
        if own_cover:
            cover = polygon_cover(polys, cell_m).cache()
        # ONE capped probe job over the (tiny vs points) cover feeds
        # the broadcast decision, the emptiness check AND (when under
        # the cap, where it is exact) the straggler pair budget —
        # replacing the three separate jobs (_cover_fits_broadcast,
        # limit(1).count, cover.count) this loop used to run before
        # its first ring round
        probe = (cover.limit(AUTO_BROADCAST_MAX_COVER_ROWS + 1)
                 .agg(F.count("*").alias("n"),
                      F.avg(F.length("wkt")).alias("w")).collect()[0])
        if broadcast_cover is None:
            est = probe.n * ((probe.w or 0.0) + _WKT_ROW_OVERHEAD_B)
            broadcast_cover = (probe.n <= AUTO_BROADCAST_MAX_COVER_ROWS
                               and est <= AUTO_BROADCAST_MAX_COVER_BYTES)
        cover_b = F.broadcast(cover) if broadcast_cover else cover
        if probe.n == 0:
            return _empty()
        # the capped probe count is exact when under the cap; above it
        # the budget check lazily runs the real count (giant covers)
        n_cover = int(probe.n) \
            if probe.n <= AUTO_BROADCAST_MAX_COVER_ROWS else None
        # a point can only ever find min(k, #polygons) neighbours
        k_eff = 1 if k == 1 else min(k, cover.select("veg_id")
                                     .distinct().count())
        pts = _spread(with_cell(points, cell_m)
                      .select("addr_id", "x", "y", "cell_id"))

    def split_resolved(best: DataFrame, bound: float):
        """(done rows, pending rows, done addr ids) under the ring
        bound: an addr resolves when it holds k_eff candidates and its
        k-th-best distance is within the bound."""
        if k == 1:
            done = best.filter(F.col("distance_m") <= F.lit(bound))
            pending = best.filter(F.col("distance_m") > F.lit(bound))
            return done, pending, done.select("addr_id")
        marks = best.groupBy("addr_id").agg(
            F.count("*").alias("cnt"),
            F.max("distance_m").alias("kth"))
        done_a = marks.filter((F.col("cnt") >= k_eff)
                              & (F.col("kth") <= F.lit(bound))) \
            .select("addr_id")
        done = best.join(done_a, "addr_id")
        pending = best.join(done_a, "addr_id", "left_anti")
        return done, pending, done_a

    def best_candidates(cand: DataFrame) -> DataFrame:
        def refine(batches):
            for pdf in batches:
                keep = []
                for wkt, grp in pdf.groupby("wkt", sort=False):
                    geom = _geom_of(wkt)
                    d, nx_, ny_ = geometry.points_to_geom_distance(
                        grp.x.values, grp.y.values, geom)
                    inside = geometry.points_in_geom(
                        grp.x.values, grp.y.values, geom)
                    d = np.where(inside, 0.0, d)
                    az = geometry.azimuth_deg(grp.x.values, grp.y.values,
                                              nx_, ny_)
                    keep.append(pd.DataFrame({
                        "addr_id": grp.addr_id.values,
                        "veg_id": grp.veg_id.values,
                        "bal_number": pd.array(
                            grp.bal_number.values, dtype="Int64"),
                        "distance_m": d, "azimuth_deg": az,
                        "near_x": nx_, "near_y": ny_,
                        "px": grp.x.values, "py": grp.y.values,
                    }))
                if keep:
                    yield pd.concat(keep)
                else:
                    yield pd.DataFrame(columns=[f.name for f in out_schema])

        return cand.mapInPandas(refine, schema=out_schema)

    # batched ring schedule: the first round probes the whole disk out to
    # ring 2 (resolves the typical point in one job), later rounds probe
    # widening annuli; localCheckpoint truncates lineage so the iterative
    # plan can't blow up. The geometric widening matters: collapsing to
    # (3, max) was measured 2.3x SLOWER at sf0.1 — the resolve bound is
    # r*cell_m, so far-from-cover points survive a wide first ring and
    # then explode the (max_ring)^2-offset annulus.
    rounds = sorted({min(r, max_ring) for r in (2, 8, max_ring)})

    resolved_parts = []
    unresolved = pts if not go_direct else None
    best_so_far = None  # best candidate per addr so far (may not be final)
    n_resolved = 0
    n_par = spark.sparkContext.defaultParallelism
    prev = -1
    for r in rounds if not go_direct else []:
        if best_so_far is not None:
            # later-round frontiers sit behind an anti-join whose tiny
            # shuffle AQE coalesces to ONE partition; without a re-spread
            # the annulus explode (hundreds of offsets per point) and its
            # refine UDF would run as a single task (measured 6x on the
            # whole join at sf0.1). This holds for BOTH cover strategies:
            # AQE coalesces the shuffle-cover join's output by bytes too,
            # so skipping the re-spread there was measured 6x slower —
            # don't "optimize" this away.
            unresolved = unresolved.repartition(n_par)
        offs = [(dx, dy) for dx in range(-r, r + 1)
                for dy in range(-r, r + 1)
                if prev < max(abs(dx), abs(dy)) <= r]
        offs_col = F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offs])
        ring_cells = unresolved.select(
            "addr_id", "x", "y", "cell_id",
            F.explode(offs_col).alias("o")
        ).select(
            "addr_id", "x", "y",
            (F.col("cell_id") + F.col("o.dx") * F.lit(1 << 20)
             + F.col("o.dy")).alias("probe_cell"))

        cand = ring_cells.join(
            cover_b.withColumnRenamed("cell_id", "probe_cell"), "probe_cell")
        scored = best_candidates(cand)
        if best_so_far is not None:
            scored = scored.unionByName(best_so_far.drop(*rank_cols))
        best = _topk_per_addr(scored, out_schema, k).localCheckpoint(
            eager=True)

        bound = r * cell_m
        done, pending, done_addrs = split_resolved(best, bound)
        resolved_parts.append(done)
        # loop-termination accounting reads the (tiny, per-addr) checkpointed
        # `best`, NOT the probe side: on a 14M-address run the old
        # unresolved.isEmpty() re-scanned + anti-joined the full probe set
        # every round (plus a second localCheckpoint barrier); counting the
        # newly-resolved rows against the upfront probe count costs one
        # cheap filter-job over the checkpoint instead. Assumes addr_id is
        # unique on the probe side (already required by the per-addr argmin).
        n_resolved += done_addrs.count()
        prev = r
        if n_resolved >= n_pts:
            best_so_far = None
            break
        # anti-join: drop resolved points from the frontier. `done` is
        # checkpointed, so the frontier plan stays O(#rounds) deep without
        # materializing its own checkpoint barrier per round.
        unresolved = unresolved.join(done_addrs, "addr_id", "left_anti")
        best_so_far = pending
        # early exact finish: when the pending tail is small enough that
        # the distributed cross join is cheaper than another ring round,
        # stop ringing (falls through to the final exact pass below)
        pending_n = n_pts - n_resolved
        if pending_n <= STRAGGLER_DIRECT_MAX:
            if n_cover is None:
                n_cover = cover.count()
            if pending_n * n_cover <= DIRECT_PAIR_BUDGET:
                break
    # ring budget exhausted. NEVER broadcast the polygon set to finish
    # the stragglers (9.4M full-WKT rows replicated per executor kills
    # the driver on a pathological far-from-everything point set).
    # Instead: (1) while the frontier is too big to be a broadcast small
    # side itself, keep DOUBLING the ring with column-generated annuli
    # (explode(sequence) x2 — plan size O(1) however wide the ring, unlike
    # the literal offset arrays of the scheduled rounds) joined against
    # the distributed cover; (2) once the frontier is small, finish it
    # exactly with a cross join that broadcasts the SMALL (point) side and
    # streams the polygon partitions.
    #
    # Each annulus is CLAMPED to the cover's cell bounding box: dx/dy
    # sequences only span offsets that can land on a cover cell, so a
    # sparse world costs O(cover extent) generated rows per point instead
    # of O(r^2) — at r=512 an unclamped annulus is ~1M rows per pending
    # point, all doomed to miss the join. Once r reaches every pending
    # point's farthest cover-bbox corner, EVERY cover cell has been
    # probed cumulatively (clamping only ever dropped coverless cells),
    # so the pending bests are exact and resolve unconditionally — the
    # clamp cannot starve termination.
    cov_bounds = None
    need = None
    while (best_so_far is not None and n_resolved < n_pts
           and (n_pts - n_resolved) > STRAGGLER_DIRECT_MAX):
        if cov_bounds is None:
            cov_bounds = cover.agg(
                F.min(F.expr("cell_id DIV 1048576")).alias("gx0"),
                F.max(F.expr("cell_id DIV 1048576")).alias("gx1"),
                F.min(F.expr("cell_id % 1048576")).alias("gy0"),
                F.max(F.expr("cell_id % 1048576")).alias("gy1")).collect()[0]
            # farthest cover-bbox corner over the loop-entry frontier
            # (cells, Chebyshev) — a conservative bound for every LATER
            # frontier too (they are subsets), so one agg suffices
            pgx = F.expr("cell_id DIV 1048576")
            pgy = F.expr("cell_id % 1048576")
            need = unresolved.agg(F.max(F.greatest(
                F.abs(F.lit(cov_bounds.gx0) - pgx),
                F.abs(F.lit(cov_bounds.gx1) - pgx),
                F.abs(F.lit(cov_bounds.gy0) - pgy),
                F.abs(F.lit(cov_bounds.gy1) - pgy)))).collect()[0][0]
        r = prev * 2
        unresolved = unresolved.repartition(n_par)
        final_round = need is None or r >= need
        if need is not None and need <= prev:
            # every cover cell already probed for every pending point:
            # the pending bests are exact — no new candidates exist
            resolved_parts.append(best_so_far)
            best_so_far = None
            break

        ann = _clamped_annulus(unresolved, r, prev, cov_bounds)
        cand = ann.join(
            cover_b.withColumnRenamed("cell_id", "probe_cell"),
            "probe_cell")
        scored = best_candidates(cand) \
            .unionByName(best_so_far.drop(*rank_cols))
        best = _topk_per_addr(scored, out_schema, k).localCheckpoint(
            eager=True)
        if final_round:
            # window now spans the whole cover bbox for every pending
            # point: bests are exact regardless of the ring bound
            resolved_parts.append(best)
            best_so_far = None
            break
        bound = r * cell_m
        done, pending, done_addrs = split_resolved(best, bound)
        resolved_parts.append(done)
        n_resolved += done_addrs.count()
        unresolved = unresolved.join(done_addrs, "addr_id", "left_anti")
        best_so_far = pending
        prev = r
        if n_resolved >= n_pts:
            best_so_far = None
    if go_direct or best_so_far is not None:
        # finish the pending tail exactly WITHOUT materializing the
        # (frontier x polygons) pair rows: a cross join ships every
        # polygon WKT once PER PENDING POINT through the Arrow boundary
        # (4.3M pair rows at sf0.1 — measured 4.1 s of the 6.5 s query).
        # Instead the (<= STRAGGLER_DIRECT_MAX, ~40 B/row) point frontier
        # rides a plain broadcast variable and each polygon partition
        # computes its PARTIAL per-point top-k in one pass: every WKT
        # crosses the boundary once per TASK, and only (#tasks x k)
        # candidate rows per point reach the final merge. Same exact
        # arithmetic (points_to_geom_distance / points_in_geom /
        # azimuth_deg over the identical frontier arrays) and the same
        # (distance, veg_id) tie order; still never broadcasts polygons.
        if go_direct:
            # no cover was ever built: the finish consumes the raw
            # polygon rows (a duplicate polys row yields duplicate
            # candidates, which the per-(addr, veg) merge collapses
            # exactly as cover.distinct() did)
            polys_all = polys.select("veg_id", "bal_number", "wkt") \
                .repartition(n_par)
        else:
            polys_all = cover.select("veg_id", "bal_number", "wkt") \
                .distinct().repartition(n_par)
        # direct mode never ran a ring round: read the raw points (the
        # _spread repartition only exists to parallelize ring refines)
        frontier = points.select("addr_id", "x", "y") if go_direct \
            else unresolved.select("addr_id", "x", "y")
        far_bc = spark.sparkContext.broadcast(frontier.toPandas())
        k_slots = k
        out_cols = [f.name for f in out_schema]

        def partial_topk(batches):
            fr = far_bc.value
            n = len(fr)
            if n == 0:
                yield pd.DataFrame(columns=out_cols)
                return
            xs = fr.x.values.astype(np.float64)
            ys = fr.y.values.astype(np.float64)
            # k insertion slots per point, each a column set; slot i
            # holds the i-th best (distance, veg_id)-ordered candidate
            D = [np.full(n, np.inf) for _ in range(k_slots)]
            VEG = [np.full(n, None, dtype=object) for _ in range(k_slots)]
            BAL = [np.full(n, np.nan) for _ in range(k_slots)]
            NX = [np.zeros(n) for _ in range(k_slots)]
            NY = [np.zeros(n) for _ in range(k_slots)]
            AZ = [np.zeros(n) for _ in range(k_slots)]
            slots = [D, VEG, BAL, NX, NY, AZ]
            empty = [np.inf, None, np.nan, 0.0, 0.0, 0.0]
            for pdf in batches:
                for r in pdf.itertuples():
                    geom = _geom_of(r.wkt)
                    if not geom:
                        # unparseable/degenerate WKT would never have
                        # produced a cover row on the ring path either
                        continue
                    d, nx_, ny_ = geometry.points_to_geom_distance(
                        xs, ys, geom)
                    inside = geometry.points_in_geom(xs, ys, geom)
                    d = np.where(inside, 0.0, d)
                    az = geometry.azimuth_deg(xs, ys, nx_, ny_)
                    bal = getattr(r, "bal_number", None)
                    bal = np.nan if bal is None or pd.isna(bal) \
                        else float(bal)
                    cand = [d, np.full(n, r.veg_id, dtype=object),
                            np.full(n, bal), nx_, ny_, az]
                    # one slot per veg: another WKT row of a veg that
                    # already holds a point's slot must not take a second
                    # one (it would crowd out the true next neighbour) —
                    # a closer row vacates that slot and is re-inserted
                    # below, a farther one is dropped
                    for i in range(k_slots):
                        same = VEG[i] == r.veg_id
                        if not same.any():
                            continue
                        closer = same & (cand[0] < D[i])
                        cand[0] = np.where(same & ~closer, np.inf, cand[0])
                        if closer.any():
                            for S, e in zip(slots, empty):
                                S[i:] = [np.where(closer, a, b) for a, b
                                         in zip(S[i + 1:] + [e], S[i:])]
                    for i in range(k_slots):
                        better = cand[0] < D[i]
                        # finite ties only: an inf "tie" is two empty
                        # slots (veg None on both sides), order moot
                        ties = (cand[0] == D[i]) & np.isfinite(cand[0])
                        if ties.any():
                            # exact distance ties are rare (d=0 inside
                            # overlaps); resolve by veg_id only there
                            ti = np.nonzero(ties)[0]
                            better[ti] |= np.fromiter(
                                (a < b for a, b in
                                 zip(cand[1][ti], VEG[i][ti])),
                                bool, len(ti))
                        if better.any():
                            for j, S in enumerate(slots):
                                disp = S[i]
                                S[i] = np.where(better, cand[j], disp)
                                cand[j] = np.where(better, disp, cand[j])
            out = []
            for i in range(k_slots):
                msk = np.isfinite(D[i])
                if not msk.any():
                    continue
                out.append(pd.DataFrame({
                    "addr_id": fr.addr_id.values[msk],
                    "veg_id": VEG[i][msk],
                    "bal_number": pd.Series(BAL[i][msk]).astype("Int64"),
                    "distance_m": D[i][msk],
                    "azimuth_deg": AZ[i][msk],
                    "near_x": NX[i][msk], "near_y": NY[i][msk],
                    "px": xs[msk], "py": ys[msk]}))
            yield (pd.concat(out) if out
                   else pd.DataFrame(columns=out_cols))

        scored = polys_all.mapInPandas(partial_topk, schema=out_schema)
        if best_so_far is not None:
            scored = scored.unionByName(best_so_far.drop(*rank_cols))
        # checkpoint so the returned frame no longer references the
        # cover (lets the cache release below be safe)
        resolved_parts.append(
            _topk_per_addr(scored, out_schema, k).localCheckpoint(
                eager=True))

    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    if own_cover and not go_direct:
        # every resolved part is checkpoint-backed by now; the cover
        # cache has served its rounds — release executor storage
        # (direct mode never built one)
        cover.unpersist(blocking=False)
    return with_line(out)


def save_cover(polys: DataFrame, table: str,
               cell_m: float = cells.DEFAULT_CELL_M, pad_m: float = 0.0,
               clip: bool = False, n_buckets: int = 32) -> str:
    """Persist a polygon cover as a cell_id-BUCKETED table — the
    index-once-probe-many move for a static layer (the reference builds
    its PostGIS GiST indexes once for the same reason). Subsequent
    ``pip_join/dwithin_join/knn_join(..., cover=load_cover(...))`` calls
    skip the cover explode entirely, and because the saved table is
    bucketed+sorted on the join key, the shuffle-cover path reads it
    with NO exchange on the cover side — at 9.4M national polygons the
    cover build and its shuffle are the dominant fixed cost of every
    probe. ``pad_m`` must match the radius of the distance joins the
    cover will serve (0 for PIP/kNN)."""
    cover = polygon_cover(polys, cell_m, pad_m=pad_m, clip=clip)
    (cover.write.mode("overwrite").bucketBy(n_buckets, "cell_id")
     .sortBy("cell_id").format("parquet").saveAsTable(table))
    return table


def load_cover(spark, table: str) -> DataFrame:
    """Read back a :func:`save_cover` table (bucketing metadata intact —
    Spark only honours it through the catalog, not a bare path read)."""
    return spark.table(table)
