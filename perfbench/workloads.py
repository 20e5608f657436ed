"""The four benchmark workloads: seeded inputs, the timed call, the output
check and the traced layer spans.

Every workload is a closed loop with one client: the driver process runs
the engine call, materializes the whole output, and only then starts the
next call. The seed picks where in the synthetic world the inputs come from
(corpus tile origin, table key range, text vocabulary); the engine sees only
the generated tables. Why each workload exists is in README.md.
"""

from __future__ import annotations

import io
import os
from contextlib import contextmanager

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from balrog_spark import (corpus, docparse, driver_queries, geotiff, joins,
                          kernels, pipeline, raster, serve, textops,
                          vegfactors, zonal)
from balrog_spark.constants import ASPECT_REMAP, NODATA, slope_remap
from balrog_spark.schema import DOCUMENTS, TILES

_P = 1_000_000_007


class CheckFailed(Exception):
    """The engine's output disagrees with the workload's reference."""


def fingerprint(df) -> tuple:
    """Order-insensitive (row count, row-hash sum) of a whole DataFrame;
    computing it reads every column of every row, so it also materializes
    the output."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(_P))
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r.n), int(r.h or 0)


def _canon(pdf: pd.DataFrame) -> list:
    """Rows as sorted strings, floats to 9 significant digits: the
    comparison tools/check_oracles.py applies to the DuckDB oracles, kept
    here so that the benchmark's checks live with the benchmark."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted("|".join(f"{v:.9g}" if isinstance(v, float) else str(v)
                           for v in t) for t in pdf.itertuples(index=False))


def _oracle_check(name: str, tables: dict, got: pd.DataFrame,
                  tmp_dir: str) -> None:
    """Compare ``got`` with driver_queries' DuckDB oracle for ``name``,
    run over the generated parquet ``tables`` (view name -> path)."""
    con = duckdb.connect(config={"temp_directory": tmp_dir})
    try:
        for view, path in tables.items():
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM '{path}'")
        exp = con.sql(driver_queries.all_oracles()[name]).df()
    finally:
        con.close()
    if sorted(got.columns) != sorted(exp.columns):
        raise CheckFailed(f"{name}: columns {sorted(got.columns)} != "
                          f"{sorted(exp.columns)}")
    if len(got) != len(exp):
        raise CheckFailed(f"{name}: {len(got)} rows, oracle {len(exp)}")
    if _canon(got) != _canon(exp):
        raise CheckFailed(f"{name}: values differ from the oracle")


def span_name(module, fname: str) -> str:
    """``<module>.<function>``, the engine call a span stands for."""
    return f"{module.__name__.rsplit('.', 1)[-1]}.{fname}"


@contextmanager
def _spans(tracer, targets):
    """Route each (module, function) through ``tracer`` for the duration:
    the call runs inside its own span and its output is materialized there
    (local checkpoint), so the span holds that call's work and nothing
    downstream of it."""
    saved = [(m, f, getattr(m, f)) for m, f in targets]

    def wrap(name, orig):
        def traced(*args, **kwargs):
            return tracer.span(
                name,
                lambda: orig(*args, **kwargs).localCheckpoint(eager=True))
        return traced

    try:
        for m, f, orig in saved:
            setattr(m, f, wrap(span_name(m, f), orig))
        yield
    finally:
        for m, f, orig in saved:
            setattr(m, f, orig)


def _tiles_df(spark, coords, layers, shift=(0, 0)):
    """Corpus raster tiles for explicit tile coordinates, generated on the
    executors (corpus.spark_tiles, but at a seeded origin). The engine sees
    each tile at its coordinates minus ``shift``, georeferenced there."""
    cdf = spark.createDataFrame(coords, "tile_x INT, tile_y INT") \
        .repartition(spark.sparkContext.defaultParallelism)
    sx, sy = shift

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                t = corpus.tiles_pdf(list(zip(pdf.tile_x, pdf.tile_y)),
                                     layers=layers)
                t["tile_x"] -= sx
                t["tile_y"] -= sy
                t["x0"] = t.tile_x * corpus.TILE_M
                t["y0"] = t.tile_y * corpus.TILE_M
                t["media_ref"] = (t.layer + "/" + t.tile_x.astype(str) + "/"
                                  + t.tile_y.astype(str))
                yield t

    return cdf.mapInPandas(gen, schema=TILES)


def _origin(seed: int, salt: int) -> tuple:
    rng = np.random.default_rng([seed, salt])
    return tuple(int(v) for v in rng.integers(0, 2_000, 2))


class Workload:
    name = ""
    item = ""
    # (module, function) pairs whose calls become spans in the traced pass
    span_targets: tuple = ()

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.dir = os.path.join(work_dir, f"{self.name}-{seed}")
        os.makedirs(self.dir, exist_ok=True)
        self.items = 0
        self.facts: dict = {}

    def setup(self) -> None:
        """Generate and cache the inputs; may run more than once."""
        raise NotImplementedError

    def output(self):
        """The timed engine call's output (lazy)."""
        raise NotImplementedError

    def run(self) -> tuple:
        """One timed run: the engine call, fully materialized."""
        return fingerprint(self.output())

    def check(self) -> tuple:
        """Run once, compare the output with the reference, and return
        its fingerprint (every timed run must reproduce it)."""
        raise NotImplementedError

    def traced(self, tracer) -> tuple:
        with _spans(tracer, self.span_targets):
            return self.run()

    # (span, ratio name): the span's py_in_rows per item, its wasted-work
    # ratio; None where no span can waste candidate work
    waste: tuple | None = None


class AddressBal(Workload):
    """Gen-2 per-address BAL batch: address documents on 16 tiles against
    the vegetation documents of a whole corpus world, with DEM tiles under
    the addresses (pipeline.address_bal_factors)."""

    name = "address_bal"
    item = "addresses"
    span_targets = ((docparse, "addresses_from_documents"),
                    (docparse, "veg_from_documents"),
                    (joins, "knn_join"),
                    (raster, "slope_aspect_tiles"),
                    (zonal, "zonal_stats_multi"),
                    (pipeline, "classify_bal"))
    waste = ("joins.knn_join", "cand_per_addr")
    WORLD = 34        # world side in tiles: vegetation documents
    BUCKET = 16       # address tiles: scattered, one beyond the world edge
    PER_TILE = 1000   # addresses per address tile
    SAMPLE = 20       # addresses checked against serve.address_bal
    NEAR_M = 6400.0   # vegetation handed to serve: tiles this close
    BUFFER_M = 100.0  # address_bal_factors' default buffer

    def setup(self):
        ox, oy = _origin(self.seed, 1)
        W = self.WORLD
        # Address tiles are scattered, not one block, so a run's kNN work
        # averages over many local vegetation layouts. One tile lies
        # beyond the vegetation layer's edge: its addresses are more than
        # two rings from any polygon, so every run takes the same path,
        # ring round, then the partial-top-k finish for the far frontier.
        rng = np.random.default_rng([self.seed, 8])
        inner = [(ox + x, oy + y) for x in range(2, W - 2)
                 for y in range(2, W - 2)]
        self.bucket = [inner[i] for i in sorted(
            rng.choice(len(inner), self.BUCKET - 1, replace=False))]
        self.bucket.append((ox + W + 1, oy + int(rng.integers(0, W))))
        # each address tile with its 8 neighbours: buffers cross tiles
        self.dem_coords = sorted({(tx + dx, ty + dy) for tx, ty in self.bucket
                                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)})
        self.world = world = {(ox + x, oy + y) for x in range(W)
                              for y in range(W)}
        spark = self.spark
        n_par = spark.sparkContext.defaultParallelism
        bucket_set = set(self.bucket)
        per_tile = self.PER_TILE
        coords = spark.createDataFrame(sorted(world | bucket_set),
                                       "tile_x INT, tile_y INT") \
            .repartition(n_par)

        def gen(batches):
            # one document per tile: a world tile's own vegetation
            # polygons (the 800 m poly-cells whose corner lies in it),
            # an address tile's address spans, and the tile's media ref
            for pdf in batches:
                tiles = list(zip(pdf.tile_x.astype(int),
                                 pdf.tile_y.astype(int)))
                spans = {t: [] for t in tiles}
                for t in tiles:
                    if t in bucket_set:
                        spans[t] += [
                            f"ADDR|{r.addr_id}|{r.x:.6f}|{r.y:.6f}|{r.fdi}"
                            for r in corpus.addresses_pdf(
                                [t], per_tile).itertuples()]
                for r in corpus.veg_polygons_pdf(
                        [t for t in tiles if t in world]).itertuples():
                    _, pcx, pcy = r.veg_id.split("-")
                    owner = (int(pcx) // 2, int(pcy) // 2)
                    if owner in spans and owner in world:
                        spans[owner].append(
                            f"VEG|{r.veg_id}|{r.bal_number}|{r.wkt}")
                docs = []
                for (tx, ty), texts in spans.items():
                    items = [{"kind": "text", "text": t, "media_ref": "",
                              "offset": i} for i, t in enumerate(texts)]
                    items.append({"kind": "media_ref", "text": "",
                                  "media_ref": f"dem/{tx}/{ty}",
                                  "offset": len(items)})
                    docs.append({"doc_id": f"doc-{tx}-{ty}",
                                 "spans": items})
                yield pd.DataFrame(docs, columns=["doc_id", "spans"])

        for old in ("docs", "tiles"):
            if hasattr(self, old):
                getattr(self, old).unpersist()
        self.docs = coords.mapInPandas(gen, schema=DOCUMENTS).cache()
        self.tiles = _tiles_df(spark, self.dem_coords, ("dem",)).cache()
        self.docs.count()
        self.tiles.count()
        n_addr = len(self.bucket) * per_tile
        self.items = n_addr
        self.facts = {
            "addresses": n_addr, "address_tiles": len(self.bucket),
            "dem_tiles": len(self.dem_coords),
            "dem_px": len(self.dem_coords) * corpus.TILE_N ** 2,
            "world_tiles": W * W,
        }

    def output(self):
        return pipeline.address_bal_factors(self.spark, self.docs,
                                            self.tiles)

    def check(self):
        out = self.output().localCheckpoint(eager=True)
        n_rows, n_ids = out.agg(F.count(F.lit(1)),
                                F.countDistinct("addr_id")).first()
        if n_rows != self.items or n_ids != self.items:
            raise CheckFailed(f"address_bal: {n_rows} rows, {n_ids} "
                              f"addresses, for {self.items} addresses")
        self.facts["veg_polygons"] = \
            docparse.veg_from_documents(self.docs).count()
        # the reference side comes from the generators, not from the
        # engine's document parsing
        rng = np.random.default_rng([self.seed, 2])
        sample = []
        for k in rng.choice(len(self.bucket) * self.PER_TILE, self.SAMPLE,
                            replace=False):
            tile = self.bucket[k // self.PER_TILE]
            sample.append(corpus.addresses_pdf(
                [tile], self.PER_TILE).iloc[k % self.PER_TILE])
        # the documents carry coordinates to 6 decimals (the ADDR span)
        for a in sample:
            a["x"], a["y"] = float(f"{a.x:.6f}"), float(f"{a.y:.6f}")
        ids = [a.addr_id for a in sample]
        batch = out.filter(F.col("addr_id").isin(ids)).toPandas() \
            .set_index("addr_id")
        self.facts["nodata_windows"] = 0
        self.facts["serve_nodata_divergent"] = 0
        for a in sample:
            want = batch.loc[a.addr_id]
            # serve.address_bal scans every polygon it is given: hand it
            # the world's polygons on tiles within NEAR_M of the address,
            # which must hold the nearest one
            if want.distance_m >= self.NEAR_M - corpus.TILE_M:
                raise CheckFailed(f"address_bal {a.addr_id}: nearest "
                                  f"polygon {want.distance_m} m away, "
                                  f"beyond the vegetation handed to serve")
            got = serve.address_bal(self._dem_tif(a.x, a.y),
                                    self._vegs_near(a.x, a.y), a.addr_id,
                                    float(a.x), float(a.y), int(a.fdi))
            cols = ["veg_id", "bal_number", "fdi", "distance_m",
                    "azimuth_deg", "dir_class"]
            if self._nodata_in_window(a.x, a.y):
                # serve edge-fills DEM nodata over its cropped read window,
                # the tile engine over the whole tile plus halo, and the
                # two can differ here: check the zonal medians against a
                # whole-mosaic computation instead, and count serve's
                # disagreements
                self.facts["nodata_windows"] += 1
                ref = self._zonal_reference(a.x, a.y)
                if ref != (want.slope_med_deg, want.aspect_med_deg):
                    raise CheckFailed(f"address_bal {a.addr_id} medians: "
                                      f"{want.slope_med_deg}, "
                                      f"{want.aspect_med_deg} != {ref}")
                if (got["slope_med_deg"], got["aspect_med_deg"]) != ref:
                    self.facts["serve_nodata_divergent"] += 1
            else:
                cols += ["slope_med_deg", "aspect_med_deg", "slope_class",
                         "aspect_class", "eff_slope_code", "bal"]
            for col in cols:
                if isinstance(got[col], float):
                    ok = abs(got[col] - float(want[col])) <= 1e-9
                else:
                    ok = got[col] == want[col]
                if not ok:
                    raise CheckFailed(f"address_bal {a.addr_id} {col}: "
                                      f"{want[col]} != serve {got[col]}")
        return fingerprint(out)

    def _vegs_near(self, x: float, y: float) -> pd.DataFrame:
        """The world's vegetation polygons owned by tiles within NEAR_M of
        (x, y), from the generator the documents were built from."""
        t, r = corpus.TILE_M, int(self.NEAR_M // corpus.TILE_M)
        tx, ty = int(x // t), int(y // t)
        tiles = [(tx + i, ty + j) for i in range(-r, r + 1)
                 for j in range(-r, r + 1) if (tx + i, ty + j) in self.world]
        vegs = corpus.veg_polygons_pdf(tiles)
        return vegs[[tuple(int(c) // 2 for c in v.split("-")[1:])
                     in self.world for v in vegs.veg_id]]

    @staticmethod
    def _mosaic(x: float, y: float, k: int):
        """(float32 DEM of the k x k tiles centred on (x, y)'s tile, its
        west edge, its north edge), from the DEM tiles' generator."""
        n, t = corpus.TILE_N, corpus.TILE_M
        tx, ty, h = int(x // t), int(y // t), k // 2
        mosaic = np.zeros((k * n, k * n), np.float32)
        for i in range(k):
            for j in range(k):
                dem, _ = corpus.tile_arrays(tx - h + i, ty - h + j)
                mosaic[(k - 1 - j) * n:(k - j) * n, i * n:(i + 1) * n] = dem
        return mosaic, (tx - h) * t, (ty + h + 1) * t

    def _dem_tif(self, x: float, y: float):
        """The DEM around (x, y) as the in-memory GeoTIFF serve reads."""
        mosaic, west, north = self._mosaic(x, y, 3)
        return io.BytesIO(geotiff.encode_geotiff(
            mosaic, west, north, corpus.PIXEL_M, tile=corpus.TILE_N,
            nodata=NODATA))

    def _buffer_mask(self, x, y, west, north, shape, pad_m=0.0):
        px = corpus.PIXEL_M
        xs = west + (np.arange(shape[1]) + 0.5) * px
        ys = north - (np.arange(shape[0]) + 0.5) * px
        if pad_m:
            return ((np.abs(xs[None, :] - x) <= self.BUFFER_M + pad_m)
                    & (np.abs(ys[:, None] - y) <= self.BUFFER_M + pad_m))
        return ((xs[None, :] - x) ** 2
                + (ys[:, None] - y) ** 2) <= self.BUFFER_M ** 2

    def _nodata_in_window(self, x: float, y: float) -> bool:
        """DEM nodata inside serve's read window (buffer bbox + 2 px)."""
        mosaic, west, north = self._mosaic(x, y, 3)
        win = self._buffer_mask(x, y, west, north, mosaic.shape,
                                pad_m=2 * corpus.PIXEL_M)
        return bool((mosaic[win] == NODATA).any())

    def _zonal_reference(self, x: float, y: float) -> tuple:
        """Slope and aspect medians in the buffer from slope/aspect over a
        whole 5 x 5-tile mosaic, the tile engine's halo-exact semantics."""
        mosaic, west, north = self._mosaic(x, y, 5)
        slope, aspect = kernels.cal_slope_aspect_vec(
            mosaic.astype(np.float64), corpus.PIXEL_M, corpus.PIXEL_M)
        mask = self._buffer_mask(x, y, west, north, mosaic.shape)
        meds = []
        for layer, circular in ((slope, False), (aspect, True)):
            v = layer.astype(np.float32).astype(np.float64)[mask]
            meds.append(kernels.zonal_stats_1d(v[v != NODATA],
                                               circular=circular)["med"])
        return tuple(meds)


class VegFactors(Workload):
    """Every (address buffer ∩ vegetation polygon) row with clip, distance
    and per-clip zonal medians: driver_queries.flagship_veg_factors over
    generated customer / supplier / events tables."""

    name = "veg_factors"
    item = "rows"
    span_targets = ((vegfactors, "veg_factors"),
                    (raster, "slope_aspect_tiles"),
                    (zonal, "zonal_stats_poly"))
    waste = ("vegfactors.veg_factors", "cand_per_row")
    CUSTOMERS = 3_000
    SUPPLIERS = 200
    EVENTS = 20_000    # sets the world height: events / 100 rows of 25 m

    def setup(self):
        rng = np.random.default_rng([self.seed, 3])
        c0 = int(rng.integers(1, 1_000_000))
        s0 = int(rng.integers(1, 1_000_000))
        self.tables = {
            "customer": pa.table({"c_custkey": pa.array(
                np.arange(c0, c0 + self.CUSTOMERS), pa.int64())}),
            "supplier": pa.table({"s_suppkey": pa.array(
                np.arange(s0, s0 + self.SUPPLIERS), pa.int64())}),
            "events": pa.table({"event_id": pa.array(
                np.arange(self.EVENTS), pa.int64())}),
        }
        self.paths = {}
        for name, tbl in self.tables.items():
            path = os.path.join(self.dir, f"{name}.parquet")
            pq.write_table(tbl, path)
            self.paths[name] = path
        # the builder's DEM: (events // 100) rows cut to whole 10-row
        # tiles, 100 columns wide
        self.facts = {"customers": self.CUSTOMERS,
                      "suppliers": self.SUPPLIERS, "events": self.EVENTS,
                      "dem_px": self.EVENTS // 1000 * 1000}

    def output(self):
        return driver_queries.flagship_veg_factors(self.spark, self.dir)

    def check(self):
        out = self.output().localCheckpoint(eager=True)
        _oracle_check("flagship_veg_factors", self.paths, out.toPandas(),
                      self.dir)
        fp = fingerprint(out)
        self.items = self.facts["output_rows"] = fp[0]
        return fp

    def run(self):
        fp = fingerprint(self.output())
        self.items = fp[0]
        return fp


class TileBal(Workload):
    """Gen-1 per-pixel AS 3959 raster over corpus dem + veg tiles
    (raster.bal_tiles at FDI 80)."""

    name = "tile_bal"
    item = "pixels"
    span_targets = ((raster, "emit_border_strips"), (raster, "bal_tiles"))
    SIDE = 12     # tiles per side
    WINDOW = 4    # side of the checked window; its border tiles give halo
    FDI = 80

    def setup(self):
        # The seed picks the raster content (the corpus tile origin); the
        # engine sees it on one fixed grid, tiles (0, 0) to (SIDE - 1,
        # SIDE - 1). At the seeded coordinates, where the 9 to 16 supertile
        # groups landed on the shuffle partitions changed with the seed, and
        # with it the largest task: up to 20% of a run between seeds.
        self.origin = ox, oy = _origin(self.seed, 4)
        self.coords = [(ox + x, oy + y)
                       for x in range(self.SIDE) for y in range(self.SIDE)]
        if hasattr(self, "tiles"):
            self.tiles.unpersist()
        self.tiles = _tiles_df(self.spark, self.coords, ("dem", "veg"),
                               shift=self.origin).cache()
        self.tiles.count()
        self.items = len(self.coords) * corpus.TILE_N ** 2
        self.facts = {"tiles": len(self.coords), "pixels": self.items}
        rng = np.random.default_rng([self.seed, 5])
        # on the engine's grid
        self.window = tuple(int(v) for v in
                            rng.integers(0, self.SIDE - self.WINDOW + 1, 2))

    def output(self):
        return raster.bal_tiles(self.tiles, fdi=self.FDI)

    def check(self):
        out = self.output().localCheckpoint(eager=True)
        n, W = corpus.TILE_N, self.WINDOW
        wx, wy = self.window
        ox, oy = self.origin
        # the tile store holds float32: start from the same quantized grid
        dem = np.zeros((W * n, W * n), np.float32)
        veg = np.zeros_like(dem)
        for i in range(W):
            for j in range(W):
                d, v = corpus.tile_arrays(ox + wx + i, oy + wy + j)
                r0 = (W - 1 - j) * n
                dem[r0:r0 + n, i * n:(i + 1) * n] = d
                veg[r0:r0 + n, i * n:(i + 1) * n] = v
        dem, veg = dem.astype(np.float64), veg.astype(np.float64)
        slope, aspect = kernels.cal_slope_aspect_vec(dem, corpus.PIXEL_M,
                                                     corpus.PIXEL_M)
        exp = kernels.bal_all_directions(
            kernels.reclassify_vec(veg, corpus.VEG_REMAP).astype(float),
            kernels.reclassify_vec(slope, slope_remap(90.0)).astype(float),
            kernels.reclassify_vec(aspect, ASPECT_REMAP).astype(float),
            corpus.PIXEL_M, self.FDI)
        # only the window's inner tiles see their full halo in the window
        inner = out.filter(
            F.col("tile_x").between(wx + 1, wx + W - 2)
            & F.col("tile_y").between(wy + 1, wy + W - 2)).collect()
        if len(inner) != (W - 2) ** 2:
            raise CheckFailed(f"tile_bal: {len(inner)} inner tiles")
        for row in inner:
            i, j = row.tile_x - wx, row.tile_y - wy
            r0 = (W - 1 - j) * n
            for d in ("w", "e", "n", "s", "nw", "ne", "se", "sw", "max"):
                got = np.asarray(row[f"bal_{d}"], np.float32).reshape(n, n)
                want = exp[d][r0:r0 + n, i * n:(i + 1) * n] \
                    .astype(np.float32)
                if not np.array_equal(got, want):
                    raise CheckFailed(f"tile_bal: tile {row.tile_x},"
                                      f"{row.tile_y} direction {d}")
        return fingerprint(out)


class Dedup(Workload):
    """Exact dedup then exact-substring span removal over a generated
    document table with near-duplicate families
    (driver_queries.dedup_exact + dedup_remove_spans)."""

    name = "dedup"
    item = "documents"
    span_targets = ((textops, "exact_dedup_groups"),
                    (textops, "remove_duplicate_spans"))
    DOCS = 1_500
    VOCAB = 3_000

    def _documents(self) -> pd.DataFrame:
        """Families of near-duplicates: a base text, exact copies that
        differ only in case and whitespace, and edited copies (words
        replaced, dropped or inserted) that share long runs with it."""
        rng = np.random.default_rng([self.seed, 6])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = np.array(["".join(rng.choice(letters, k))
                          for k in rng.integers(2, 9, self.VOCAB)])
        texts: list = []
        while len(texts) < self.DOCS:
            base = list(rng.choice(vocab, int(rng.integers(20, 90))))
            texts.append(" ".join(base))
            for _ in range(int(rng.choice([0, 0, 0, 1, 2, 3, 5]))):
                if rng.random() < 0.3:
                    words = [w.upper() if rng.random() < 0.2 else w
                             for w in base]
                    seps = rng.choice([" ", "  ", "\t", "\n"], len(words))
                    texts.append("".join(w + s for w, s in
                                         zip(words, seps)).strip())
                    continue
                words = list(base)
                for _ in range(int(rng.integers(1, 6))):
                    pos = int(rng.integers(0, len(words)))
                    op = rng.random()
                    if op < 0.4:
                        words[pos] = str(rng.choice(vocab))
                    elif op < 0.7 and len(words) > 5:
                        del words[pos]
                    else:
                        words.insert(pos, str(rng.choice(vocab)))
                texts.append(" ".join(words))
        texts = texts[:self.DOCS]
        order = rng.permutation(len(texts))
        return pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                             "text": [texts[i] for i in order]})

    def setup(self):
        docs = self._documents()
        self.path = os.path.join(self.dir, "documents.parquet")
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                       self.path)
        self.items = len(docs)
        self.facts = {"documents": len(docs),
                      "chars": int(docs.text.str.len().sum())}

    def _outputs(self):
        return (driver_queries.dedup_exact(self.spark, self.dir),
                driver_queries.dedup_remove_spans(self.spark, self.dir))

    def run(self):
        return tuple(fingerprint(o) for o in self._outputs())

    def check(self):
        outs = [o.localCheckpoint(eager=True) for o in self._outputs()]
        for name, out in zip(("dedup_exact", "dedup_remove_spans"), outs):
            _oracle_check(name, {"documents": self.path}, out.toPandas(),
                          self.dir)
        return tuple(fingerprint(o) for o in outs)


# the end-to-end workloads; the others run in traced runs only, checked
# there (README.md says why)
WORKLOADS = {w.name: w for w in (VegFactors, TileBal)}
TRACE_ONLY = {w.name: w for w in (AddressBal, Dedup)}
ALL_WORKLOADS = {**WORKLOADS, **TRACE_ONLY}


def facts_line(wl) -> dict:
    """The workload's facts: input sizes, cutover sides and warm memos."""
    return {"workload": wl.name, "seed": wl.seed, "inputs": wl.facts,
            **engine_facts(wl)}


def engine_facts(wl) -> dict:
    """Which side of each engine cutover this workload's inputs fall on at
    this commit (read from the module constants, None once a constant is
    gone), and which process-global memos the timed runs find warm after
    the checked run. Warm memos match a user's batch: one long-lived
    session serves many batches over the same immutable tables."""
    const = {n: getattr(joins, n, None) for n in (
        "STRAGGLER_DIRECT_MAX", "DIRECT_PAIR_BUDGET",
        "AUTO_BROADCAST_MAX_COVER_ROWS", "AUTO_BROADCAST_MAX_COVER_BYTES")}
    out: dict = {"constants": const}
    if isinstance(wl, AddressBal):
        n, v = wl.facts["addresses"], wl.facts.get("veg_polygons", 0)
        smax, budget = const["STRAGGLER_DIRECT_MAX"], \
            const["DIRECT_PAIR_BUDGET"]
        out["knn_pairs"] = n * v
        if v and smax is not None and budget is not None:
            out["knn_path"] = "direct" if n <= smax and n * v <= budget \
                else "ring"
    if isinstance(wl, VegFactors):
        rows = const["AUTO_BROADCAST_MAX_COVER_ROWS"]
        out["cover_polygons"] = wl.SUPPLIERS
        if rows is not None:
            out["cover_polygons_under_broadcast_rows"] = wl.SUPPLIERS <= rows
    memos = {}
    for mod, memo in ((driver_queries, "_WORLD_CACHE"),
                      (driver_queries, "_COUNT_CACHE"),
                      (pipeline, "_LK_CACHE")):
        m = getattr(mod, memo, None)
        memos[memo] = None if m is None else len(m) > 0
    last = getattr(joins, "_LAST_PROBE_COVER", False)
    memos["_LAST_PROBE_COVER"] = None if last is False else last is not None
    # _POLY_CACHE lives in the Python workers, which Spark reuses across
    # tasks (spark.python.worker.reuse): warm there, never in the driver
    memos["_POLY_CACHE"] = "worker-side, warm when workers are reused"
    out["memos_warm"] = memos
    return out
