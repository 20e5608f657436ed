"""The traced run's per-layer metrics.

One traced run reports every per-layer metric: it traces the named workload
(in the session its untraced runs just used), then every other workload once
after its output check, then times the Python kernels in-process with no
Spark in the loop.
"""

from __future__ import annotations

import json
import statistics
import time

import numpy as np

from balrog_spark import corpus, geometry, kernels
from balrog_spark.constants import ASPECT_REMAP, slope_remap

import spans
import workloads

UNITS = {"s": "s", "jobs": "count", "driver_gap_s": "s", "task_s": "s",
         "shuffle_write_mb": "MB", "py_in_rows": "count", "py_in_mb": "MB"}
KERNEL_SECONDS = 0.25


def _median_us(fn) -> float:
    """Median wall per call in µs; calls are batched so one sample lasts
    at least ~1 ms, and samples are taken for KERNEL_SECONDS."""
    for _ in range(3):
        fn()
    t0 = time.perf_counter()
    fn()
    reps = max(1, int(1e-3 / max(time.perf_counter() - t0, 1e-7)))
    samples = []
    t_end = time.perf_counter() + KERNEL_SECONDS
    while time.perf_counter() < t_end or len(samples) < 5:
        t0 = time.perf_counter()
        for _ in range(reps):
            fn()
        samples.append((time.perf_counter() - t0) / reps * 1e6)
    return statistics.median(samples)


def kernel_timings(seed: int) -> dict:
    """µs per call of the engine's Python kernels on generator inputs: a
    corpus vegetation hexagon against the addresses around it (kNN
    refine), a flagship box clipped to a 100 m buffer and its per-pixel
    zonal mask (veg_factors), and one halo-padded corpus tile (raster)."""
    rng = np.random.default_rng([seed, 7])
    tx, ty = (int(v) for v in rng.integers(0, 2_000, 2))
    vegs = corpus.veg_polygons_pdf([(tx, ty)])
    wkt = vegs.wkt.iloc[0]
    hexagon = geometry.parse_wkt_polys(wkt)
    cx, cy = hexagon[0][0].mean(axis=0)
    px = cx + rng.uniform(-400.0, 400.0, 64)
    py = cy + rng.uniform(-400.0, 400.0, 64)

    # a flagship veg_factors pair: a box and an address 60 m off its edge
    hw, hh = 30.0 + 25 * int(rng.integers(0, 7)) + 0.25, \
        30.0 + 30 * int(rng.integers(0, 5)) + 0.25
    bx, by = 1000.5, 1000.5
    box = [[np.array([[bx - hw, by - hh], [bx + hw, by - hh],
                      [bx + hw, by + hh], [bx - hw, by + hh],
                      [bx - hw, by - hh]])]]
    buf = geometry.buffer_point(bx + hw + 60.0, by, 100.0, 4)
    clip = geometry.clip_polys_to_convex(box, buf)[0][0]
    (x0, y0), (x1, y1) = clip.min(axis=0), clip.max(axis=0)
    gx, gy = np.meshgrid(np.arange(np.floor(x0 / 25) * 25 + 12.5, x1, 25.0),
                         np.arange(np.floor(y0 / 25) * 25 + 12.5, y1, 25.0))

    h = 13  # raster.DEFAULT_HALO: a tile as the per-tile kernels see it
    d, v = corpus.tile_arrays(tx, ty)
    dem = np.pad(d, h, mode="edge")
    veg = np.pad(v, h, mode="edge")
    slope, aspect = kernels.cal_slope_aspect_vec(dem, 25.0, 25.0)
    veg_r = kernels.reclassify_vec(veg, corpus.VEG_REMAP).astype(float)
    slope_r = kernels.reclassify_vec(slope, slope_remap(90.0)).astype(float)
    aspect_r = kernels.reclassify_vec(aspect, ASPECT_REMAP).astype(float)
    buffer_vals = slope[h:h + 9, h:h + 9].ravel()

    timings = {
        "geometry.parse_wkt_polys": lambda: geometry.parse_wkt_polys(wkt),
        "geometry.points_in_geom":
            lambda: geometry.points_in_geom(px, py, hexagon),
        "geometry.points_to_geom_distance":
            lambda: geometry.points_to_geom_distance(px, py, hexagon),
        "geometry.clip_polys_to_convex":
            lambda: geometry.clip_polys_to_convex(box, buf),
        "geometry.points_in_ring":
            lambda: geometry.points_in_ring(gx.ravel(), gy.ravel(), clip),
        "kernels.zonal_stats_1d":
            lambda: kernels.zonal_stats_1d(buffer_vals),
        "kernels.cal_slope_aspect_vec":
            lambda: kernels.cal_slope_aspect_vec(dem, 25.0, 25.0),
        "kernels.bal_all_directions":
            lambda: kernels.bal_all_directions(veg_r, slope_r, aspect_r,
                                               25.0, 80),
    }
    return {f"{k}.us": {"value": _median_us(fn), "unit": "us"}
            for k, fn in timings.items()}


def span_names() -> list:
    """``<workload>.<module>.<function>`` of every traced span."""
    return [f"{name}.{workloads.span_name(m, f)}"
            for name, cls in workloads.ALL_WORKLOADS.items()
            for m, f in cls.span_targets]


def per_layer(spark, named, untraced_wall: float, seed: int, work: str,
              log) -> tuple:
    """(traced outputs correct, every per-layer metric); ``named`` is the
    set-up and checked workload of this run, ``untraced_wall`` its
    untraced median wall."""
    tracer = spans.Tracer(spark)
    traced_wall = None
    waste = {}
    correct = True
    others = [cls(spark, seed, work) for name, cls in
              workloads.ALL_WORKLOADS.items() if name != named.name]
    for wl in [named] + others:
        name, ref = wl.name, None
        if wl is not named:
            # checked here, as no timed run of this invocation checks it;
            # the check is also its cold first execution, so every traced
            # pass is a warm one, as the named workload's is
            wl.setup()
            try:
                ref = wl.check()
            except workloads.CheckFailed as e:
                log(f"output check failed: {e}")
                correct = False
            print(json.dumps(workloads.facts_line(wl)), flush=True)
            log(f"checked {name}: output {ref}")
        tracer.prefix = name
        t0 = time.perf_counter()
        fp = wl.traced(tracer)
        if wl is named:
            traced_wall = time.perf_counter() - t0
        log(f"traced {name}: output {fp}")
        if ref is not None and fp != ref:
            log(f"traced {name}: output differs from the checked {ref}")
            correct = False
        if wl.waste:
            span, ratio = wl.waste
            waste[f"{name}.{span}"] = (f"{name}.{span}.{ratio}", wl.items)
    counters = tracer.counters()
    out: dict = {}
    for name in span_names():
        # a span the workload no longer reaches reads as zero work
        cs = counters.get(name, dict.fromkeys(spans.COUNTERS, 0.0))
        for c, v in cs.items():
            out[f"{name}.{c}"] = {"value": v, "unit": UNITS[c]}
        if name in waste:
            ratio, items = waste[name]
            out[ratio] = {"value": cs["py_in_rows"] / items, "unit": "ratio"}
    out.update(kernel_timings(seed))
    out["trace.overhead_s"] = {"value": traced_wall - untraced_wall,
                               "unit": "s"}
    return correct, out
