"""The r6 knn_join rewrite added a direct (cover-less partial-top-k)
mode chosen by a pair budget, alongside the scheduled-ring and
ring-doubling + straggler-finish paths. All modes must produce
identical rows — the mode cutover is a pure performance decision, so a
scale change (which flips the budget) must never change results."""

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from balrog_spark import joins


@pytest.fixture(scope="module")
def world(spark):
    pts = spark.range(1, 301).selectExpr(
        "CAST(id AS STRING) AS addr_id",
        "CAST((id * 2654435761) % 4000 AS DOUBLE) + 0.125 AS x",
        "CAST((id * 2246822519) % 4000 AS DOUBLE) + 0.625 AS y")
    boxes = spark.range(1, 41).selectExpr(
        "format_string('%06d', id) AS veg_id",
        "CAST((id * 3266489917) % 4000 AS DOUBLE) + 0.5 AS cx",
        "CAST((id * 668265263) % 4000 AS DOUBLE) + 0.5 AS cy",
        "CAST(30 + (id % 7) * 25 AS DOUBLE) + 0.25 AS hw",
        "CAST(30 + (id % 5) * 30 AS DOUBLE) + 0.25 AS hh",
        "CAST(id % 7 + 1 AS BIGINT) AS bal_number")
    polys = boxes.withColumn(
        "wkt",
        F.format_string(
            "POLYGON ((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, "
            "%.2f %.2f))",
            F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"),
            F.col("cx") + F.col("hw"), F.col("cy") - F.col("hh"),
            F.col("cx") + F.col("hw"), F.col("cy") + F.col("hh"),
            F.col("cx") - F.col("hw"), F.col("cy") + F.col("hh"),
            F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"))) \
        .select("veg_id", "bal_number", "wkt")
    return pts, polys


def _canon(df, k):
    cols = ["addr_id", "veg_id",
            F.round("distance_m", 6).alias("d"),
            F.round("near_x", 6).alias("nx"),
            F.round("near_y", 6).alias("ny"),
            F.round("azimuth_deg", 6).alias("az"), "line_wkt"]
    if k > 1:
        cols.append("nn_rank")
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("k", [1, 3])
def test_knn_modes_identical(world, k, monkeypatch):
    pts, polys = world
    # direct mode (defaults pass the budget at this size)
    direct = _canon(joins.knn_join(pts, polys, max_ring=8, k=k), k)
    assert len(direct) == 300 * k

    # scheduled-ring path: fail the pre-round budget
    monkeypatch.setattr(joins, "DIRECT_PAIR_BUDGET", 1)
    ring = _canon(joins.knn_join(pts, polys, max_ring=8, k=k), k)
    assert ring == direct

    # ring-doubling + partial-top-k straggler finish: tiny max_ring and
    # a frontier cap below the point count force the post-loop paths
    monkeypatch.setattr(joins, "DIRECT_PAIR_BUDGET", 10**4)
    monkeypatch.setattr(joins, "STRAGGLER_DIRECT_MAX", 50)
    doubling = _canon(joins.knn_join(pts, polys, max_ring=1, k=k), k)
    assert doubling == direct


def _box(x1, y1, x2, y2):
    return (f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, {x1} {y2}, "
            f"{x1} {y1}))")


@pytest.mark.parametrize("one_partition", [True, False])
def test_knn_multirow_veg_keeps_k_distinct(spark, one_partition,
                                           monkeypatch):
    """A veg stored as two WKT rows (multipart-as-rows) must hold one
    k-slot, not two: at k=2 its second row may not crowd the true
    2nd-nearest veg out of a task's partial top-k. With one partition
    (what local[1] gives) all rows share one task — the placement the
    direct mode got wrong."""
    if one_partition:
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self: 1))
    pts = spark.createDataFrame([("p", 0.0, 0.0)],
                                "addr_id STRING, x DOUBLE, y DOUBLE")
    polys = spark.createDataFrame(
        [("v1", 1, _box(10, -5, 15, 5)),    # 10 m east
         ("v1", 1, _box(20, -5, 25, 5)),    # 20 m east, same veg
         ("v2", 2, _box(-60, -5, -50, 5))],  # 50 m west
        "veg_id STRING, bal_number BIGINT, wkt STRING")

    def ranked():
        rows = joins.knn_join(pts, polys, max_ring=8, k=2).collect()
        return [(r.veg_id, r.distance_m)
                for r in sorted(rows, key=lambda r: r.nn_rank)]

    want = [("v1", 10.0), ("v2", 50.0)]
    assert ranked() == want                     # direct mode
    monkeypatch.setattr(joins, "DIRECT_PAIR_BUDGET", 1)
    assert ranked() == want                     # scheduled-ring path
