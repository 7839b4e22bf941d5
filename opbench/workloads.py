"""The workloads: inputs from a seed, the timed calls of one pass,
and a reference check for every call.

A workload's ``load`` is set-up work: it generates the inputs and loads
them into the session (cached and counted). ``prepare`` builds the numpy
expectations and is never timed. ``calls(pass_no)`` returns the pass as
(operator name, run, check) triples; only ``run`` is timed, and ``check``
returns ``None`` or the reason the output is wrong.

Every workload processes ``images`` input image rows per pass; that is
the numerator of ``images_per_s`` and the denominator of
``cpu_ms_per_image``.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter

import numpy as np
import pandas as pd

from gis_tools_spark import fixtures
from gis_tools_spark.operators.knn import nearest_feature
from gis_tools_spark.operators.sjoin import pip_join
from gis_tools_spark.operators.split import image_tile_assignment
from gis_tools_spark.raster import burn, codec, kernels, polygonize, zonal
from gis_tools_spark.sources import icetable

from . import reference as R

N_ZONES = 64


def _zone_inputs(spark):
    """The zone layer is the fixtures' fixed 64 zones; only the images and
    tiles come from the run's seed. Zone placement sets how many kNN ring
    rounds run and how many tile-zone pairs exist, so a per-seed zone
    layer made the work of a pass differ by up to 1.6x between seeds."""
    zpdf = fixtures.gen_zones(N_ZONES, seed=fixtures.SEED)
    return zpdf, spark.createDataFrame(zpdf)


# A workload's side of the program's size gates (README.md lists them).
GATE_NAMES = ("gate.polygons", "gate.polygon_bytes", "gate.input_rows",
              "gate.input_partitions", "gate.cores")


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    stat_names: tuple[str, ...] = ()    # filled into ``stats`` by checks
    images = 0

    def __init__(self, seed: int, workdir: str, scale: float = 1.0):
        self.seed = seed
        self.workdir = workdir
        self.scale = scale
        self.stats: dict[str, float] = {}
        self._cached: list = []

    def _cache(self, df):
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def unload(self):
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def gates(self, spark) -> dict[str, float]:
        z = getattr(self, "zpdf", None)
        return dict(zip(GATE_NAMES, map(float, (
            0 if z is None else len(z),
            0 if z is None else z["geometry_wkb"].map(len).sum(),
            self.images, self.input_df.rdd.getNumPartitions(),
            spark.sparkContext.defaultParallelism))))


class VectorJoin(Workload):
    """Image-footprint points against zone polygons: tile assignment, a
    salted cell PIP join and kNN by both physical strategies."""

    name = "vector_join"
    ops = ("split.image_tile_assignment", "sjoin.pip_join",
           "knn.nearest_feature.rings", "knn.nearest_feature.broadcast")
    N_IMAGES = 4_000
    SALT_THRESHOLD = 200
    # ring cells of 2.8 x 1.4 degrees, a few zones' extent. The rings
    # strategy runs a driver loop of expansion rounds, several Spark jobs
    # each; at the default res 12 the points far from every zone need
    # about eight rounds and that one call outlasts the rest of the pass
    # 5:1 (10.6 s against 2 s with 4 cores).
    RINGS_RES = 7

    def load(self, spark):
        self.images = max(64, int(self.N_IMAGES * self.scale))
        img = fixtures.gen_images(self.images, seed=self.seed,
                                  with_pixels=False)
        self.zpdf, zones = _zone_inputs(spark)
        self.ipdf = pd.DataFrame({
            "pid": np.arange(self.images, dtype=np.int64),
            "lon": img["lon"].to_numpy(), "lat": img["lat"].to_numpy(),
            "minx": img["minx"].to_numpy(), "miny": img["miny"].to_numpy(),
            "maxx": img["maxx"].to_numpy(), "maxy": img["maxy"].to_numpy()})
        self.footprints = self._cache(spark.createDataFrame(self.ipdf))
        self.points = self.input_df = self._cache(
            self.footprints.select("pid", "lon", "lat"))
        self.zones = self._cache(zones)

    def prepare(self):
        p = self.ipdf
        zs = R.zones_from(self.zpdf["gid"], self.zpdf["geometry_wkb"])
        x, y = p["lon"].to_numpy(), p["lat"].to_numpy()
        self.want_tiles = R.tile_assignment(
            p["minx"].to_numpy(), p["miny"].to_numpy(),
            p["maxx"].to_numpy(), p["maxy"].to_numpy(), 16)
        self.want_pip = R.pip_pairs(zs, x, y)
        self.want_nn = R.nearest(zs, x, y)

    def calls(self, pass_no):
        def tiles():
            return image_tile_assignment(self.footprints) \
                .select("pid", "cell").collect()

        def pip():
            return pip_join(self.points, self.zones, strategy="cell",
                            salt_threshold=self.SALT_THRESHOLD) \
                .select("pid", "gid").collect()

        def nearest(strategy):
            kw = {"res": self.RINGS_RES} if strategy == "rings" else {}
            return lambda: nearest_feature(
                self.points, self.zones, point_id="pid", strategy=strategy,
                **kw) \
                .select("pid", "nearest_gid", "nearest_dist").collect()

        def check_nn(rows):
            return R.check_nearest(
                {r[0]: (r[1], r[2]) for r in rows}, self.want_nn)

        return [
            (self.ops[0], tiles,
             lambda rows: R.check_tile_assignment(
                 [(r[0], r[1]) for r in rows], self.want_tiles)),
            (self.ops[1], pip,
             lambda rows: R.check_pip([(r[0], r[1]) for r in rows],
                                      self.want_pip)),
            (self.ops[2], nearest("rings"), check_nn),
            (self.ops[3], nearest("broadcast"), check_nn),
        ]


class ImageLake(Workload):
    """The image+caption table: snapshot commits, a re-crawl upsert, a
    bbox-pruned scan and decode + perceptual hash of every image."""

    name = "image_lake"
    ops = ("icetable.commit", "icetable.upsert", "icetable.scan",
           "kernels.decode_phash_udf")
    stat_names = ("icetable.commit.input_mb",
                  "icetable.commit.bytes_per_input_byte",
                  "icetable.upsert.files_before",
                  "icetable.upsert.files_rewritten",
                  "icetable.scan.files_total",
                  "icetable.scan.files_read_ratio")
    N_IMAGES = 600
    SNAPSHOTS = 4
    RECRAWL = (0.30, 0.50)          # share of ids re-crawled, by id range

    def load(self, spark):
        self.images = max(32, int(self.N_IMAGES * self.scale))
        img = fixtures.gen_images(self.images, seed=self.seed)
        n = self.images
        img["chunk"] = (np.arange(n) * self.SNAPSHOTS // n).astype(np.int32)
        cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "lon", "lat", "chunk"]
        self.ipdf = img[cols]
        lo, hi = (int(n * f) for f in self.RECRAWL)
        recrawl = self.ipdf.iloc[lo:hi].drop(columns="chunk").copy()
        recrawl["caption"] = "recrawl " + recrawl["caption"]
        self.recrawl_ids = set(recrawl["image_id"])
        self.src = self.input_df = self._cache(spark.createDataFrame(self.ipdf))
        self.recrawl = self._cache(spark.createDataFrame(recrawl))
        minx, miny, maxx, maxy = fixtures.AOI
        self.bbox = (minx, miny, (minx + maxx) / 2, (miny + maxy) / 2)
        self.input_bytes = float(self.ipdf["bytes"].map(len).sum()
                                 + self.ipdf["caption"].str.len().sum())

    def prepare(self):
        p = self.ipdf
        x0, y0, x1, y1 = self.bbox
        inb = ((p["lon"] >= x0) & (p["lon"] <= x1)
               & (p["lat"] >= y0) & (p["lat"] <= y1))
        self.want_scan = {i: ("recrawl " + c if i in self.recrawl_ids else c)
                          for i, c in zip(p["image_id"][inb], p["caption"][inb])}
        self.want_phash = dict(zip(p["image_id"], p["phash"].astype(np.int64)))

    def _data_bytes(self, root):
        return sum(os.path.getsize(f) for f in
                   glob.glob(os.path.join(root, "data", "*", "*.parquet")))

    def calls(self, pass_no):
        root = os.path.join(self.workdir, f"lake_{self.name}_{pass_no}")
        spark = self.src.sparkSession
        shutil.rmtree(root, ignore_errors=True)

        def commit():
            return [icetable.commit(
                self.src.where(f"chunk = {k}").drop("chunk"), root,
                cluster_by=("lon", "lat")) for k in range(self.SNAPSHOTS)]

        def check_commit(ids):
            snaps = icetable.snapshots(root)
            if [s["id"] for s in snaps] != ids:
                return "snapshot ids differ from those returned"
            if snaps[-1]["summary"]["total_rows"] != self.images:
                return f"table holds {snaps[-1]['summary']['total_rows']} rows"
            self.stats["icetable.commit.input_mb"] = self.input_bytes / 2 ** 20
            self.stats["icetable.commit.bytes_per_input_byte"] = \
                self._data_bytes(root) / self.input_bytes
            self.stats["icetable.upsert.files_before"] = \
                float(snaps[-1]["summary"]["total_files"])
            return None

        def upsert():
            return icetable.upsert(self.recrawl, root, key_col="image_id",
                                   cluster_by=("lon", "lat"))

        def check_upsert(summary):
            self.stats["icetable.upsert.files_rewritten"] = \
                float(summary["rewritten_files"])
            if summary["replaced_rows"] != len(self.recrawl_ids) \
                    or summary["inserted_rows"] != 0:
                return f"upsert summary {summary}"
            return None

        def scan():
            return icetable.scan(spark, root, bbox=self.bbox) \
                .select("image_id", "caption").collect()

        def check_scan(rows):
            kept, total = icetable.scan_files(
                root, filters=icetable.bbox_filters(*self.bbox))
            self.stats["icetable.scan.files_total"] = float(total)
            self.stats["icetable.scan.files_read_ratio"] = len(kept) / total
            got = {r[0]: r[1] for r in rows}
            if len(got) != len(rows):
                return "duplicate image ids in the scan"
            return None if got == self.want_scan else \
                f"scan returned {len(got)} rows, {len(self.want_scan)} expected"

        udf = kernels.decode_phash_udf()

        def phash():
            return self.src.select("image_id", udf("bytes", "w", "h", "fmt")) \
                .collect()

        def check_phash(rows):
            bad = sum(1 for r in rows if self.want_phash.get(r[0]) != r[1])
            if len(rows) != len(self.want_phash) or bad:
                return f"{bad} phash values differ"
            return None

        return [(self.ops[0], commit, check_commit),
                (self.ops[1], upsert, check_upsert),
                (self.ops[2], scan, check_scan),
                (self.ops[3], phash, check_phash)]

    def after_pass(self, pass_no):
        shutil.rmtree(os.path.join(self.workdir,
                                   f"lake_{self.name}_{pass_no}"),
                      ignore_errors=True)


class RasterZonal(Workload):
    """Float raster tiles against the zones: zonal statistics, burning
    the zones onto the tile grid, and contour binning then polygonize."""

    name = "raster_zonal"
    ops = ("zonal.zonal_statistics", "burn.burn_zones_to_tiles",
           "polygonize.polygonize")
    GRID, TILE = 16, 32               # 16 x 16 tiles of 32 x 32 pixels
    INTERVAL = 40.0

    def load(self, spark):
        grid = max(2, int(round(self.GRID * self.scale ** 0.5)))
        rpdf = fixtures.gen_rasters(grid, grid, self.TILE, seed=self.seed)
        self.images = len(rpdf)
        self.zpdf, zones = _zone_inputs(spark)
        self.rpdf = rpdf
        self.tiles = self.input_df = self._cache(spark.createDataFrame(rpdf))
        self.zones = self._cache(zones)

    def prepare(self):
        zs = R.zones_from(self.zpdf["gid"], self.zpdf["geometry_wkb"])
        self.tile_list = [
            {"gt_x0": r.gt_x0, "gt_rx": r.gt_rx, "gt_y0": r.gt_y0,
             "gt_ry": r.gt_ry, "w": int(r.w), "h": int(r.h),
             "arr": np.frombuffer(r.bytes, dtype="<f4").reshape(int(r.h), int(r.w))}
            for r in self.rpdf.itertuples()]
        self.tile_ids = list(self.rpdf["image_id"])
        masks, edges = R.tile_zone_masks(self.tile_list, zs)
        self.want_zonal = R.zonal_stats(self.tile_list, masks, codec.NO_DATA_F32)
        self.slack = Counter()
        for (_ti, gid), n in edges.items():
            self.slack[gid] += n
        self.want_burn = R.burn_counts(self.tile_list, masks)
        self.src = dict(zip(self.tile_ids, (t["arr"] for t in self.tile_list)))

    def calls(self, pass_no):
        state = {}

        def zonal_call():
            return zonal.zonal_statistics(self.tiles, self.zones).collect()

        def check_zonal(rows):
            got = {r["gid"]: {"count": r["zonal_count"], "sum": r["zonal_sum"],
                              "min": r["zonal_min"], "max": r["zonal_max"],
                              "nodata": r["no_data_count"]} for r in rows}
            return R.check_zonal(got, self.want_zonal, self.slack)

        def burn_call():
            return burn.burn_zones_to_tiles(self.tiles, self.zones,
                                            burn_attr="gid") \
                .select("image_id", "w", "h", "bytes").collect()

        def check_burn(rows):
            got: Counter = Counter()
            for r in rows:
                a = np.frombuffer(r["bytes"], dtype="<f4")
                got.update(Counter(a.astype(np.int64).tolist()))
            if len(rows) != self.images:
                return f"{len(rows)} burned tiles for {self.images}"
            return R.check_burn(got, self.want_burn, sum(self.slack.values()))

        def poly_call():
            state["binned"] = kernels.contour_bins(self.tiles, self.INTERVAL)
            return polygonize.polygonize(state["binned"]) \
                .select("image_id", "value", "px_count").collect()

        def check_poly(rows):
            binned = {r["image_id"]: np.frombuffer(r["bytes"], dtype="<f4")
                      .reshape(int(r["h"]), int(r["w"]))
                      for r in state["binned"].select("image_id", "w", "h",
                                                      "bytes").collect()}
            reason = R.check_contour(self.src, binned, self.INTERVAL,
                                     codec.NO_DATA_F32)
            if reason:
                return reason
            want = R.polygonize_expect(binned, codec.NO_DATA_F32)
            return R.check_polygonize(
                [(r[0], float(r[1]), int(r[2])) for r in rows], want)

        return [(self.ops[0], zonal_call, check_zonal),
                (self.ops[1], burn_call, check_burn),
                (self.ops[2], poly_call, check_poly)]


class RasterLake(Workload):
    """The image+caption table and the raster tiles in one pass: the
    ``ImageLake`` calls, then the ``RasterZonal`` calls. One workload
    instead of two halves the fixed cost a run pays (JVM start, set-up, the
    cold pass), and that time buys the warm-up passes that made runs of
    the same code agree."""

    name = "raster_lake"
    ops = ImageLake.ops + RasterZonal.ops
    stat_names = ImageLake.stat_names

    def __init__(self, seed: int, workdir: str, scale: float = 1.0):
        super().__init__(seed, workdir, scale)
        self.lake = ImageLake(seed, workdir, scale)
        self.raster = RasterZonal(seed, workdir, scale)
        self.stats = self.lake.stats

    def load(self, spark):
        self.lake.load(spark)
        self.raster.load(spark)
        self.images = self.lake.images + self.raster.images
        self.zpdf = self.raster.zpdf

    def prepare(self):
        self.lake.prepare()
        self.raster.prepare()

    def unload(self):
        self.lake.unload()
        self.raster.unload()

    def gates(self, spark):
        g = self.raster.gates(spark)
        g["gate.input_rows"] = float(self.images)
        g["gate.input_partitions"] += self.lake.gates(spark)["gate.input_partitions"]
        return g

    def calls(self, pass_no):
        return self.lake.calls(pass_no) + self.raster.calls(pass_no)

    def after_pass(self, pass_no):
        self.lake.after_pass(pass_no)


WORKLOADS = {w.name: w for w in (VectorJoin, RasterLake)}
