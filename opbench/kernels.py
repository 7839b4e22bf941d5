"""Driver-side kernel timings on a seeded sample, with no Spark involved.

Each figure is the median of several repeats of one call over the whole
sample, divided by the sample size. They tell whether a change to a
kernel should move the workload that calls it (see README.md).
"""

from __future__ import annotations

import time

import numpy as np

from gis_tools_spark import cells, fixtures
from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.raster import codec, polygonize, zonal

REPEATS = 5
NAMES = ("cells.polygon_to_cells_ms", "cells.latlng_to_cell_ns",
         "geom.wkb_decode_us", "geom.covers_xy_ns",
         *(f"codec.decode_ms.{f}" for f in fixtures.FMT_MIX),
         "codec.phash_us", "zonal.rasterize_mask_us",
         "polygonize.polygonize_region_us")


def _per_item(fn, n_items: int, scale: float) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) / n_items * scale


def measure(seed: int) -> dict[str, float]:
    rng = np.random.default_rng(seed)
    zones = fixtures.gen_zones(16, seed=seed)
    bufs = list(zones["geometry_wkb"])
    geoms = [wkb.decode(b) for b in bufs]
    minx, miny, maxx, maxy = fixtures.AOI
    lon = rng.uniform(minx, maxx, 100_000)
    lat = rng.uniform(miny, maxy, 100_000)
    out = {
        "cells.polygon_to_cells_ms": _per_item(
            lambda: [cells.polygon_to_cells(g, 13) for g in geoms],
            len(geoms), 1e3),
        "cells.latlng_to_cell_ns": _per_item(
            lambda: cells.latlng_to_cell(lon, lat, 16), len(lon), 1e9),
        "geom.wkb_decode_us": _per_item(
            lambda: [wkb.decode(b) for b in bufs], len(bufs), 1e6),
        "geom.covers_xy_ns": _per_item(
            lambda: [K.covers_xy(g, lon[:20_000], lat[:20_000]) for g in geoms],
            len(geoms) * 20_000, 1e9),
    }

    imgs = fixtures.gen_images(120, seed=seed)
    arrs = []
    for f in fixtures.FMT_MIX:
        sub = imgs[imgs["fmt"] == f]
        rows = list(zip(sub["bytes"], sub["w"], sub["h"]))
        out[f"codec.decode_ms.{f}"] = _per_item(
            lambda: [codec.decode(b, int(w), int(h), f) for b, w, h in rows],
            len(rows), 1e3) if rows else 0.0
        arrs += [codec.decode(b, int(w), int(h), f) for b, w, h in rows]
    out["codec.phash_us"] = _per_item(
        lambda: [codec.phash64(a) for a in arrs], len(arrs), 1e6)

    tile = fixtures.gen_rasters(4, 4, 64, seed=seed).iloc[5]
    xs, ys = zonal.pixel_centers(tile["gt_x0"], tile["gt_rx"], tile["gt_y0"],
                                 tile["gt_ry"], 64, 64)
    out["zonal.rasterize_mask_us"] = _per_item(
        lambda: [zonal.rasterize_mask(g, xs, ys) for g in geoms],
        len(geoms), 1e6)

    gt = (tile["gt_x0"], tile["gt_rx"], tile["gt_y0"], tile["gt_ry"])
    yy, xx = np.mgrid[0:32, 0:32]
    masks = [(xx - 16) ** 2 + ((yy - 16) * 1.5) ** 2 < r * r
             for r in (3, 6, 9, 12, 15)]
    out["polygonize.polygonize_region_us"] = _per_item(
        lambda: [polygonize.polygonize_region(m, gt) for m in masks],
        len(masks), 1e6)
    return out
