"""Windowed raster zonal statistics (A1/A2) over the tile store.

Reference shape: buffer each address, mask the raster with the buffer, stats
over surviving pixels (reference: testing/02_get_slope_from_buffer.py:219-251).
Engine shape: a pure-column tile-range join (buffer bbox -> tile_x/tile_y
sequence, exploded JVM-side) followed by ONE batched applyInPandas per
address-batch cell — addresses are grouped by a coarse spatial cell
(``batch_m``, default 4 tiles) and iterated INSIDE the Arrow batch, the same
supertile trick raster._per_tile_apply uses. One pandas group per address
(14M tiny groups at reference scale) does not amortize; one per batch cell
does.

Sentinel contract: the tile join is a LEFT join, so an address whose buffer
touches no stored tile still yields a row with the reference's -9999
sentinel stats instead of silently disappearing.

Pixel inclusion rule: default is pixel *centre* within the buffer circle
(the engine contract, what the DuckDB oracles of a1/a2/flagship use).
``include='touched'`` switches to the reference's rasterio/arcpy
``all_touched=True`` rule — every pixel whose square intersects the circle
(exact circle-vs-rectangle test) — for parity runs against
reference-computed stats; it has its own gate oracle (a1_zonal_touched).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from . import geometry, kernels
from .joins import _geom_of   # shared worker-global WKT-parse cache
from .corpus import TILE_M

ZONAL_OUT = StructType([
    StructField("addr_id", StringType(), False),
    StructField("buffer_size_m", DoubleType(), False),
    StructField("stat_min", IntegerType(), False),
    StructField("stat_max", IntegerType(), False),
    StructField("stat_avg", IntegerType(), False),
    StructField("stat_std", IntegerType(), False),
    StructField("stat_med", IntegerType(), False),
    StructField("pixel_count", IntegerType(), False),
])

# address-batch cell side: one pandas group per ~2x2 tiles of addresses —
# coarse enough to amortize per-group Arrow overhead (hundreds of
# addresses/group at production density), fine enough that small AOIs
# still yield >= cores groups (batching must not throttle parallelism)
DEFAULT_BATCH_M = 2 * TILE_M


def tiles_for_buffers(points: DataFrame, tiles: DataFrame,
                      radius_m: float, tile_m: float = TILE_M,
                      crop: bool = True) -> DataFrame:
    """LEFT-join each point to every tile its buffer bbox touches —
    sequence + explode keeps the fan-out in codegen; the join is a plain
    equi-join that AQE can broadcast when the tile side is small. Points
    whose candidate tiles are absent keep a null-tile row (sentinel path).

    ``crop=True`` (default) immediately slices each joined tile's ``data``
    down to the point's buffer-bbox window (see _crop_to_buffer_window):
    the (address x tile) rows that cross the downstream batch-groupBy
    shuffle then carry ~(2r/pixel)^2 values instead of the full tile^2 —
    at 14M addresses x 64^2..256^2-pixel tiles that is the difference
    between shuffling hundreds of GB and a few GB. ``crop=False`` keeps
    the full tiles (measurement / debugging only)."""
    pts = points.select(
        "addr_id", "x", "y",
        F.explode(F.sequence(
            F.floor((F.col("x") - radius_m) / tile_m),
            F.floor((F.col("x") + radius_m) / tile_m))).alias("tx"))
    pts = pts.select(
        "addr_id", "x", "y", "tx",
        F.explode(F.sequence(
            F.floor((F.col("y") - radius_m) / tile_m),
            F.floor((F.col("y") + radius_m) / tile_m))).alias("ty"))
    pts = pts.select(
        "addr_id", "x", "y",
        F.col("tx").cast("int").alias("tile_x"),
        F.col("ty").cast("int").alias("tile_y"))
    n = pts.sparkSession.sparkContext.defaultParallelism
    # spread the probe side: broadcast tile joins keep its partitioning
    joined = pts.repartition(n, "addr_id") \
        .join(tiles, ["tile_x", "tile_y"], "left")
    return _crop_to_buffer_window(joined, radius_m) if crop else joined


def _crop_to_buffer_window(joined: DataFrame, radius_m: float) -> DataFrame:
    """Buffer-circle special case of :func:`_crop_to_window`: the window is
    the point's x/y +- radius bbox."""
    r = F.lit(float(radius_m))
    return _crop_to_window(joined, F.col("x") - r, F.col("x") + r,
                           F.col("y") - r, F.col("y") + r)


def _crop_to_window(joined: DataFrame, xlo, xhi, ylo, yhi) -> DataFrame:
    """Project each (zone, tile) row's ``data`` array down to the
    sub-window of pixels whose centres can possibly fall inside the
    [xlo, xhi] x [ylo, yhi] bbox (column expressions) — PURE column
    expressions (sequence/transform/slice/flatten, all codegen), no UDF,
    evaluated BEFORE the batch-cell groupBy so the shuffle ships windows,
    not tiles.

    The window is deliberately one pixel generous on every side (floor-1 /
    ceil+1): correctness never depends on the bounds because the exact
    inclusion mask (centre-in-circle / centre-in-polygon) is re-applied
    downstream on the cropped tile's own x0/y0/nrows/ncols, which this
    projection rewrites to describe the window. Left-join miss rows (null
    tile) pass through null; a degenerate window yields an EMPTY tile
    (nrows=ncols=0), which downstream treats as zero surviving pixels."""
    px = F.col("pixel_m")
    n_, m_ = F.col("nrows"), F.col("ncols")
    # pixel-centre column/row ranges intersecting the bbox, clamped to the
    # tile (data row 0 is the NORTH edge: y of row i is
    # y0 + (nrows - i - 0.5) * pixel_m)
    c0 = F.greatest(F.lit(0),
                    (F.floor((xlo - F.col("x0")) / px) - 1)
                    .cast("int"))
    c1 = F.least(m_, (F.ceil((xhi - F.col("x0")) / px) + 1)
                 .cast("int"))
    r0 = F.greatest(F.lit(0),
                    (F.floor(n_ - (yhi - F.col("y0")) / px) - 1)
                    .cast("int"))
    r1 = F.least(n_, (F.ceil(n_ - (ylo - F.col("y0")) / px) + 1)
                 .cast("int"))
    width = c1 - c0

    def row_slice(rr):
        return F.slice(F.col("data"), rr * m_ + c0 + F.lit(1), width)

    data_t = joined.schema["data"].dataType
    valid = F.col("data").isNotNull() & (r1 > r0) & (c1 > c0)
    window = F.flatten(F.transform(F.sequence(r0, r1 - 1), row_slice))
    cropped = F.when(valid, window).otherwise(
        F.when(F.col("data").isNotNull(), F.array().cast(data_t)))
    zero_if_empty = lambda col: F.when(  # noqa: E731
        valid, col).otherwise(
        F.when(F.col("data").isNotNull(), F.lit(0)).cast("int"))
    passthrough = [c for c in joined.columns
                   if c not in ("data", "nrows", "ncols", "x0", "y0")]
    return joined.select(
        *passthrough,
        cropped.alias("data"),
        zero_if_empty(r1 - r0).alias("nrows"),
        zero_if_empty(width).alias("ncols"),
        (F.col("x0") + c0.cast("double") * px).alias("x0"),
        (F.col("y0") + (n_ - r1).cast("double") * px).alias("y0"))


_EMPTY = np.array([], dtype=np.float64)


def _segment_values(group: pd.DataFrame, key_of_row: np.ndarray,
                    radius_m: float, nodata: float,
                    include: str) -> dict:
    """Vectorized window extraction for a WHOLE batch: one concatenate +
    one mask over every (address, tile) row's cropped window instead of
    per-address pandas groupby + per-row numpy (the former hot loop).
    Returns {segment key: float64 values}, each segment's values in
    exactly the order the per-row path produced (row order within the
    group, raster order within a row, nodata dropped) — the stats stay
    bit-identical because zonal_stats_1d still runs per address on the
    identical arrays."""
    valid = group["data"].notna().to_numpy() & (key_of_row >= 0)
    if not valid.any():
        return {}
    g = group.loc[valid]
    keys = key_of_row[valid]
    arrs = [np.asarray(d, dtype=np.float64) for d in g["data"].to_numpy()]
    lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
    if not lens.any():
        return {}
    flat = np.concatenate(arrs)
    row, xs, ys = _pixel_centres(g)
    px_e = g["pixel_m"].to_numpy(np.float64)[row]
    xa = g["x"].to_numpy(np.float64)[row]
    ya = g["y"].to_numpy(np.float64)[row]
    if include == "touched":
        dx = np.maximum(np.abs(xs - xa) - px_e / 2.0, 0.0)
        dy = np.maximum(np.abs(ys - ya) - px_e / 2.0, 0.0)
        keep = dx ** 2 + dy ** 2 <= radius_m ** 2
    else:
        keep = (xs - xa) ** 2 + (ys - ya) ** 2 <= radius_m ** 2
    return _split_segments(flat, keep & (flat != nodata),
                           np.repeat(keys, lens))


def _split_segments(flat: np.ndarray, keep: np.ndarray,
                    key: np.ndarray) -> dict:
    """{segment key: the kept values of that key}, each segment in
    ``flat`` order — a stable sort by key, so rows stay in group order
    and pixels in raster order within a row."""
    kv, kk = flat[keep], key[keep]
    order = np.argsort(kk, kind="stable")
    sv, sk = kv[order], kk[order]
    uk, starts = np.unique(sk, return_index=True)
    return dict(zip(uk.tolist(), np.split(sv, starts[1:])))


def _pixel_centres(w: pd.DataFrame):
    """(row of ``w``, x, y) of every pixel centre of the windows in ``w``
    (x0, y0, nrows, ncols, pixel_m per row), concatenated in row order,
    raster order within a window (data row 0 is the NORTH edge)."""
    n = w["nrows"].to_numpy(np.int64)
    m = w["ncols"].to_numpy(np.int64)
    lens = n * m
    row = np.repeat(np.arange(len(w)), lens)
    idx = np.arange(len(row)) - np.repeat(np.cumsum(lens) - lens, lens)
    px = w["pixel_m"].to_numpy(np.float64)[row]
    xs = w["x0"].to_numpy(np.float64)[row] + (idx % m[row] + 0.5) * px
    ys = w["y0"].to_numpy(np.float64)[row] \
        + (n[row] - idx // m[row] - 0.5) * px
    return row, xs, ys


def _window_masks(w: pd.DataFrame) -> np.ndarray:
    """Pixel-centre-in-zone mask of every window (one row of ``w`` per
    window: wkt, x0, y0, nrows, ncols, pixel_m), concatenated in row
    order, raster order within a window.

    Windows of single-ring zones share ONE even-odd pass over all their
    pixels: edge k of every zone at once, with
    :func:`geometry.points_in_ring`'s per-(pixel, edge) formula, so the
    mask is bit-identical to it (XOR order does not matter). Multipart
    and holed zones keep :func:`geometry.points_in_geom` per window."""
    win, gx, gy = _pixel_centres(w)
    offs = np.concatenate(([0], np.cumsum(w["nrows"].to_numpy(np.int64)
                                          * w["ncols"].to_numpy(np.int64))))
    inside = np.zeros(len(win), dtype=bool)
    geoms = [_geom_of(t) for t in w["wkt"]]
    single = np.array([len(g) == 1 and len(g[0]) == 1 for g in geoms],
                      dtype=bool)
    for i in np.nonzero(~single)[0]:
        s = slice(offs[i], offs[i + 1])
        inside[s] = geometry.points_in_geom(gx[s], gy[s], geoms[i])
    if not single.any():
        return inside
    # per zone edge k = (x1, y1) -> (x2, y2) in the pad_rings layout;
    # NaN padding never crosses
    verts, cnt = geometry.pad_rings([geoms[i][0][0] if single[i]
                                     else np.zeros((0, 2))
                                     for i in range(len(w))])
    j = np.arange(verts.shape[1])[None, :]
    X1 = np.where(j < cnt[:, None], verts[..., 0], np.nan)
    Y1 = np.where(j < cnt[:, None], verts[..., 1], np.nan)
    nxt = np.where(j + 1 < cnt[:, None], j + 1, 0)
    X2 = np.take_along_axis(X1, nxt, axis=1)
    Y2 = np.take_along_axis(Y1, nxt, axis=1)
    pix = np.nonzero(single[win])[0]
    pw, qx, qy = win[pix], gx[pix], gy[pix]
    for k in range(verts.shape[1]):
        y1, y2 = Y1[pw, k], Y2[pw, k]
        sel = np.nonzero((y1 > qy) != (y2 > qy))[0]
        if not len(sel):
            continue
        x1, x2, y1, y2 = X1[pw[sel], k], X2[pw[sel], k], y1[sel], y2[sel]
        xint = (x2 - x1) * (qy[sel] - y1) / (y2 - y1) + x1
        inside[pix[sel]] ^= qx[sel] < xint
    return inside


def _poly_segment_values(group: pd.DataFrame, key_of_row: np.ndarray,
                         nodata: float) -> dict:
    """Polygon-zone twin of :func:`_segment_values`: {segment key: the
    row's window values whose pixel centre lies in the row's zone, nodata
    dropped}, in row order then raster order. Rows that share a window
    (the same zone over the same tile crop — e.g. its slope and its
    aspect row) share one mask from :func:`_window_masks`."""
    valid = group["data"].notna().to_numpy() & (key_of_row >= 0)
    if not valid.any():
        return {}
    g = group.loc[valid]
    arrs = [np.asarray(d, dtype=np.float64) for d in g["data"].to_numpy()]
    lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
    if not lens.any():
        return {}
    flat = np.concatenate(arrs)
    wcols = ["wkt", "x0", "y0", "nrows", "ncols", "pixel_m"]
    win = g.groupby(wcols, sort=False).ngroup().to_numpy()
    first = np.unique(win, return_index=True)[1]
    inside = _window_masks(g.iloc[first][wcols])
    w_lens = lens[first]
    w_offs = np.concatenate(([0], np.cumsum(w_lens)[:-1]))
    r_offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pix = np.arange(flat.size) + np.repeat(w_offs[win] - r_offs, lens)
    return _split_segments(flat, inside[pix] & (flat != nodata),
                           np.repeat(key_of_row[valid], lens))


_STATS = ("min", "max", "avg", "std", "med", "pixel_count")


def _layer_schema(head: list, layers: list) -> StructType:
    """``head`` fields, then one <layer>_<stat> column per layer."""
    return StructType(head + [
        StructField(f"{lay}_{stat}", IntegerType(), False)
        for lay in layers for stat in _STATS])


def _layer_stats(group: pd.DataFrame, id_col: str, layers: list,
                 layer_specs: dict, sentinel: float, out_schema,
                 segments, **head) -> pd.DataFrame:
    """One output row per ``id_col`` value of the batch, in first-
    appearance order: ``head`` columns, then each layer's
    zonal_stats_1d. ``segments(key_of_row)`` returns the {segment key:
    values} of every row's (id, layer) segment key (-1: no segment)."""
    codes, uniq = pd.factorize(group[id_col], sort=False)
    lay_code = {lay: i for i, lay in enumerate(layers)}
    L = len(layers)
    lcodes = group["layer"].map(lay_code).fillna(-1).to_numpy(np.int64)
    segs = segments(np.where(lcodes >= 0, codes * L + lcodes, -1))
    rows = []
    for i, v in enumerate(uniq):
        row = {id_col: v, **head}
        for li, lay in enumerate(layers):
            s = kernels.zonal_stats_1d(
                segs.get(i * L + li, _EMPTY),
                circular=layer_specs[lay].get("circular", False),
                sentinel=sentinel)
            for stat in _STATS:
                row[f"{lay}_{stat}"] = s[stat]
        rows.append(row)
    return pd.DataFrame(rows, columns=[f.name for f in out_schema])


def _batched(joined: DataFrame, per_batch, out_schema,
             batch_m: float) -> DataFrame:
    grouped = joined.groupBy(
        F.floor(F.col("x") / F.lit(float(batch_m))).alias("_bx"),
        F.floor(F.col("y") / F.lit(float(batch_m))).alias("_by"))
    return grouped.applyInPandas(per_batch, schema=out_schema)


def zonal_stats(points: DataFrame, tiles: DataFrame, radius_m: float,
                circular: bool = False, sentinel: float = -9999.0,
                nodata: float = -99.0,
                batch_m: float = DEFAULT_BATCH_M,
                crop: bool = True, tile_m: float = TILE_M,
                include: str = "centre") -> DataFrame:
    """Per-point stats of one raster layer within a circular buffer.
    ``tile_m`` must match the tile grid of ``tiles`` (world metres per
    tile side); ``include`` picks the pixel inclusion rule: 'centre' (engine
    contract) keeps pixels whose CENTRE lies in the circle;
    'touched' keeps every pixel whose SQUARE intersects it —
    rasterio/arcpy all_touched=True, the reference's rule
    (testing/02_get_slope_from_buffer.py:219), exact
    circle-vs-square (distance from centre to the pixel rectangle
    <= radius; implemented in _segment_values). The crop window's one-pixel margin already covers the
    half-pixel the touched rule can add, so both rules ride the slim
    shuffle."""
    joined = tiles_for_buffers(points, tiles, radius_m, tile_m=tile_m,
                               crop=crop)

    def stats(key, group):
        codes, uniq = pd.factorize(group["addr_id"], sort=False)
        segs = _segment_values(group, codes, radius_m, nodata, include)
        rows = []
        for ai, addr_id in enumerate(uniq):
            s = kernels.zonal_stats_1d(segs.get(ai, _EMPTY),
                                       circular=circular,
                                       sentinel=sentinel)
            rows.append({
                "addr_id": addr_id, "buffer_size_m": float(radius_m),
                "stat_min": s["min"], "stat_max": s["max"],
                "stat_avg": s["avg"], "stat_std": s["std"],
                "stat_med": s["med"], "pixel_count": s["pixel_count"],
            })
        return pd.DataFrame(rows, columns=[f.name for f in ZONAL_OUT])

    return _batched(joined, stats, ZONAL_OUT, batch_m)


def zonal_stats_multi(points: DataFrame, tiles: DataFrame, radius_m: float,
                      layer_specs: dict,
                      sentinel: float = -9999.0,
                      nodata: float = -99.0,
                      batch_m: float = DEFAULT_BATCH_M,
                      crop: bool = True, tile_m: float = TILE_M,
                      include: str = "centre") -> DataFrame:
    """Multi-layer zonal stats in ONE shuffle: ``layer_specs`` maps layer
    name -> {"circular": bool}; output has one column group per layer
    (<layer>_min .. <layer>_pixel_count). Halves the join/groupBy cost of
    running slope and aspect separately — the dominant fixed cost of the
    per-address pipeline."""
    layers = sorted(layer_specs)
    joined = tiles_for_buffers(points, tiles, radius_m, tile_m=tile_m,
                               crop=crop)

    out_schema = _layer_schema(
        [StructField("addr_id", StringType(), False),
         StructField("buffer_size_m", DoubleType(), False)], layers)

    def stats(key, group):
        return _layer_stats(
            group, "addr_id", layers, layer_specs, sentinel, out_schema,
            lambda k: _segment_values(group, k, radius_m, nodata, include),
            buffer_size_m=float(radius_m))

    return _batched(joined, stats, out_schema, batch_m)


def zonal_stats_poly(zones: DataFrame, tiles: DataFrame, layer_specs: dict,
                     sentinel: float = -9999.0, nodata: float = -99.0,
                     batch_m: float = DEFAULT_BATCH_M,
                     tile_m: float = TILE_M) -> DataFrame:
    """Zonal stats over ARBITRARY polygon zones (A1 generalized): ``zones``
    is (zone_id, wkt, xmin, ymin, xmax, ymax) — the bbox columns keep the
    tile-range join and the window crop in pure codegen; the exact
    pixel-centre-in-polygon mask (holes/even-odd) runs inside the batched
    applyInPandas, ONE mask per (zone, cropped window), shared by all
    layers of that window: the windows of every single-ring zone in the
    batch cell share one vectorized even-odd pass, multipart and holed
    zones fall back to geometry.points_in_geom per window (see
    _window_masks). This is the per-clipped-vegetation-polygon
    median step of the reference's Auto BAL Assessment (reference:
    data_prep/vegetation/xx_fiona_testing.py:218-221 get_raster_values
    per clipped veg geom), where :func:`zonal_stats` covers its circular
    per-address buffer twin.

    Same scale shape as zonal_stats: the shuffle ships bbox-cropped
    windows (never whole tiles), one pandas group per coarse batch cell
    (never per zone), sentinel row for zones touching no stored tile."""
    layers = sorted(layer_specs)
    n_par = zones.sparkSession.sparkContext.defaultParallelism
    base = ["zone_id", "wkt", "xmin", "ymin", "xmax", "ymax"]
    z = zones.select(
        *base,
        F.explode(F.sequence(
            F.floor(F.col("xmin") / F.lit(float(tile_m))),
            F.floor(F.col("xmax") / F.lit(float(tile_m))))).alias("tx"))
    z = z.select(
        *base, "tx",
        F.explode(F.sequence(
            F.floor(F.col("ymin") / F.lit(float(tile_m))),
            F.floor(F.col("ymax") / F.lit(float(tile_m))))).alias("ty"))
    z = z.select(*base,
                 F.col("tx").cast("int").alias("tile_x"),
                 F.col("ty").cast("int").alias("tile_y"))
    joined = z.repartition(n_par, "zone_id") \
        .join(tiles, ["tile_x", "tile_y"], "left")
    joined = _crop_to_window(joined, F.col("xmin"), F.col("xmax"),
                             F.col("ymin"), F.col("ymax"))

    out_schema = _layer_schema([StructField("zone_id", StringType(), False)],
                               layers)

    def stats(key, group):
        return _layer_stats(
            group, "zone_id", layers, layer_specs, sentinel, out_schema,
            lambda k: _poly_segment_values(group, k, nodata))

    # pin the batch-cell exchange at cluster parallelism: the apply
    # stage is compute-dense per byte (per-pixel PIP masks), which AQE's
    # byte-based coalescing serializes (measured: 1.95 s on 5 tasks with
    # 32 cores idle in the flagship chain). The explicit keyed
    # repartition is reused by the groupBy (same clustering), so this
    # swaps the exchange rather than adding one.
    keyed = joined.withColumn(
        "_bx", F.floor((F.col("xmin") + F.col("xmax"))
                       / F.lit(2.0 * float(batch_m)))).withColumn(
        "_by", F.floor((F.col("ymin") + F.col("ymax"))
                       / F.lit(2.0 * float(batch_m)))) \
        .repartition(n_par, "_bx", "_by")
    return keyed.groupBy("_bx", "_by").applyInPandas(stats,
                                                     schema=out_schema)
