"""Plain-numpy references for every timed call.

Nothing here imports the package: WKB is parsed with ``struct``, point in
polygon is a pixel-centre / point even-odd ray cast over all rings, and
connected regions come from a vectorised union-find. Each checker returns
``None`` when the output matches and a short reason when it does not.
"""

from __future__ import annotations

import struct
from collections import Counter

import numpy as np

# Points or pixel centres closer than this to a zone edge may be decided
# either way by a boundary-inclusive test; they are not counted as a
# mismatch.
EDGE_TOL = 1e-9


# ------------------------------------------------------------------ WKB

def parse_wkb_polygons(buf: bytes) -> list[list[np.ndarray]]:
    """Polygon / MultiPolygon WKB -> list of polygons, each a list of
    closed (n, 2) rings, exterior first."""

    def read(pos):
        order = "<" if buf[pos] == 1 else ">"
        (gtype,) = struct.unpack_from(order + "I", buf, pos + 1)
        return order, gtype % 1000, pos + 5

    def polygon(order, pos):
        (nrings,) = struct.unpack_from(order + "I", buf, pos)
        pos += 4
        rings = []
        for _ in range(nrings):
            (npts,) = struct.unpack_from(order + "I", buf, pos)
            pos += 4
            xy = np.frombuffer(buf, dtype=order + "f8", count=2 * npts,
                               offset=pos).reshape(npts, 2)
            rings.append(xy.astype(np.float64))
            pos += 16 * npts
        return rings, pos

    order, gtype, pos = read(0)
    if gtype == 3:
        return [polygon(order, pos)[0]]
    if gtype == 6:
        (nparts,) = struct.unpack_from(order + "I", buf, pos)
        pos += 4
        out = []
        for _ in range(nparts):
            order2, gtype2, pos = read(pos)
            if gtype2 != 3:
                raise ValueError(f"MultiPolygon part of type {gtype2}")
            rings, pos = polygon(order2, pos)
            out.append(rings)
        return out
    raise ValueError(f"WKB type {gtype} is not polygonal")


class Zone:
    """One zone's rings, bbox and area-weighted centroid."""

    def __init__(self, gid: int, buf: bytes):
        self.gid = int(gid)
        self.polys = parse_wkb_polygons(buf)
        self.rings = [r for p in self.polys for r in p]
        allv = np.vstack(self.rings)
        self.bbox = (allv[:, 0].min(), allv[:, 1].min(),
                     allv[:, 0].max(), allv[:, 1].max())
        acc, sw = np.zeros(2), 0.0
        for p in self.polys:
            for i, r in enumerate(p):
                x, y = r[:, 0], r[:, 1]
                cross = x[:-1] * y[1:] - x[1:] * y[:-1]
                a = 0.5 * cross.sum()
                c = np.array([((x[:-1] + x[1:]) * cross).sum(),
                              ((y[:-1] + y[1:]) * cross).sum()]) / (6 * a)
                w = abs(a) * (1 if i == 0 else -1)
                acc += w * c
                sw += w
        self.centroid = acc / sw

    def inside(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Even-odd parity over every ring (holes and parts included)."""
        odd = np.zeros(x.shape, dtype=bool)
        for r in self.rings:
            for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
                if y1 == y2:
                    continue
                cross = (y1 > y) != (y2 > y)
                xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                odd ^= cross & (x < xint)
        return odd

    def edge_dist(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        best = np.full(x.shape, np.inf)
        for r in self.rings:
            for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
                dx, dy = x2 - x1, y2 - y1
                ll = dx * dx + dy * dy
                t = np.clip(((x - x1) * dx + (y - y1) * dy) / ll, 0, 1) \
                    if ll > 0 else np.zeros(x.shape)
                best = np.minimum(best, np.hypot(x - (x1 + t * dx),
                                                 y - (y1 + t * dy)))
        return best

    def bbox_hit(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        mnx, mny, mxx, mxy = self.bbox
        return (x >= mnx) & (x <= mxx) & (y >= mny) & (y <= mxy)


def zones_from(gids, wkbs) -> list[Zone]:
    return [Zone(g, b) for g, b in zip(gids, wkbs)]


# ------------------------------------------------------------------ vector_join

def cell_ids(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Grid cell id: res in bits 58+, column in bits 29+, row below."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << 58) | (ix << 29) | iy


def tile_assignment(minx, miny, maxx, maxy, res: int) -> set[tuple[int, int]]:
    """(row index, cell) for the distinct cells of each bbox's corners."""
    out = set()
    corners = [cell_ids(a, b, res) for a, b in
               ((minx, miny), (maxx, miny), (minx, maxy), (maxx, maxy))]
    for c in corners:
        out.update(zip(range(len(c)), c.tolist()))
    return out


def check_tile_assignment(got: list[tuple[int, int]], want: set) -> str | None:
    g = Counter(got)
    if any(v > 1 for v in g.values()):
        return "duplicate (image, cell) rows"
    if set(g) != want:
        return f"{len(set(g) ^ want)} (image, cell) pairs differ"
    return None


def pip_pairs(zones: list[Zone], x: np.ndarray, y: np.ndarray):
    """(sure pairs, near-edge pairs): point index/gid pairs by even-odd,
    and pairs too close to an edge to call."""
    sure, near = set(), set()
    for z in zones:
        idx = np.nonzero(z.bbox_hit(x, y))[0]
        if not len(idx):
            continue
        inn = z.inside(x[idx], y[idx])
        edge = z.edge_dist(x[idx], y[idx]) < EDGE_TOL
        sure.update((int(i), z.gid) for i in idx[inn & ~edge])
        near.update((int(i), z.gid) for i in idx[edge])
    return sure, near


def check_pip(got: list[tuple[int, int]], want) -> str | None:
    sure, near = want
    g = Counter(got)
    if any(v > 1 for v in g.values()):
        return "duplicate (point, zone) rows"
    diff = (set(g) ^ sure) - near
    return f"{len(diff)} (point, zone) pairs differ" if diff else None


def nearest(zones: list[Zone], x: np.ndarray, y: np.ndarray):
    """Per point: (gid, distance, ambiguous). Inside one or more zones ->
    the zone whose centroid is closest, distance 0; else the zone with
    the smallest edge distance. Ties go to the smallest gid."""
    n, m = len(x), len(zones)
    inside = np.zeros((n, m), dtype=bool)
    dist = np.empty((n, m))
    cdist = np.empty((n, m))
    near_edge = np.zeros(n, dtype=bool)
    for j, z in enumerate(zones):
        d = z.edge_dist(x, y)
        hit = z.bbox_hit(x, y)
        inn = np.zeros(n, dtype=bool)
        inn[hit] = z.inside(x[hit], y[hit])
        inside[:, j] = inn
        dist[:, j] = np.where(inn, 0.0, d)
        cdist[:, j] = np.hypot(x - z.centroid[0], y - z.centroid[1])
        near_edge |= d < EDGE_TOL
    gids = np.array([z.gid for z in zones])
    order = np.argsort(gids, kind="stable")
    inside, dist, cdist, gids = (inside[:, order], dist[:, order],
                                 cdist[:, order], gids[order])
    any_in = inside.any(axis=1)
    key = np.where(any_in[:, None], np.where(inside, cdist, np.inf), dist)
    pick = key.argmin(axis=1)
    best = key[np.arange(n), pick]
    srt = np.sort(key, axis=1)
    second = srt[:, 1] if m > 1 else np.full(n, np.inf)
    ambiguous = near_edge | (second - best <= 1e-12 * np.maximum(1.0, best))
    return gids[pick], np.where(any_in, 0.0, best), ambiguous


def check_nearest(got: dict, want) -> str | None:
    """got: point index -> (gid, distance)."""
    gid, dist, amb = want
    if len(got) != len(gid):
        return f"{len(got)} rows for {len(gid)} points"
    bad = 0
    for i, (g, d) in got.items():
        if amb[i]:
            continue
        if g != gid[i] or abs(d - dist[i]) > 1e-9:
            bad += 1
    return f"{bad} nearest rows differ" if bad else None


# ------------------------------------------------------------------ raster_zonal

def pixel_centres(gt_x0, gt_rx, gt_y0, gt_ry, w, h):
    xs = gt_x0 + (np.arange(w) + 0.5) * gt_rx
    ys = gt_y0 - (np.arange(h) + 0.5) * gt_ry
    return np.meshgrid(xs, ys)


def tile_zone_masks(tiles: list[dict], zones: list[Zone]):
    """{(tile index, gid): (h, w) centre-inside mask} for non-empty masks,
    plus the set of pixels within EDGE_TOL of a zone edge per pair."""
    masks, edges = {}, {}
    for ti, t in enumerate(tiles):
        gx, gy = pixel_centres(t["gt_x0"], t["gt_rx"], t["gt_y0"], t["gt_ry"],
                               t["w"], t["h"])
        tb = (gx.min(), gy.min(), gx.max(), gy.max())
        for z in zones:
            mnx, mny, mxx, mxy = z.bbox
            if mxx < tb[0] or mnx > tb[2] or mxy < tb[1] or mny > tb[3]:
                continue
            m = z.inside(gx, gy)
            if m.any():
                masks[ti, z.gid] = m
                e = z.edge_dist(gx, gy) < EDGE_TOL
                if e.any():
                    edges[ti, z.gid] = int(e.sum())
    return masks, edges


def zonal_stats(tiles: list[dict], masks: dict, no_data: float) -> dict:
    """gid -> dict(count, sum, min, max, nodata) over centre-inside pixels."""
    acc: dict = {}
    for (ti, gid), m in masks.items():
        v = tiles[ti]["arr"][m].astype(np.float64)
        nod = v == no_data
        good = v[~nod]
        a = acc.setdefault(gid, {"count": 0, "sum": 0.0, "min": np.inf,
                                 "max": -np.inf, "nodata": 0})
        a["count"] += good.size
        a["sum"] += float(good.sum())
        a["nodata"] += int(nod.sum())
        if good.size:
            a["min"] = min(a["min"], float(good.min()))
            a["max"] = max(a["max"], float(good.max()))
    return acc


def check_zonal(got: dict, want: dict, slack: dict) -> str | None:
    """got: gid -> dict(count, sum, min, max, nodata); ``slack`` allows
    near-edge pixels per zone."""
    if set(got) != set(want):
        return f"zone sets differ: {sorted(set(got) ^ set(want))[:5]}"
    for gid, w in want.items():
        g, s = got[gid], slack.get(gid, 0)
        if abs(g["count"] - w["count"]) > s or abs(g["nodata"] - w["nodata"]) > s:
            return f"zone {gid}: count {g['count']} vs {w['count']}"
        if s == 0 and (abs(g["sum"] - w["sum"]) > 1e-9 * max(1.0, abs(w["sum"]))
                       or g["min"] != w["min"] or g["max"] != w["max"]):
            return f"zone {gid}: sum/min/max differ"
    return None


def burn_counts(tiles: list[dict], masks: dict) -> Counter:
    """Pixels per burned value: each pixel takes the largest gid whose
    zone covers its centre (zones burn in gid order), else 0."""
    out: Counter = Counter()
    by_tile: dict = {}
    for (ti, gid), m in masks.items():
        by_tile.setdefault(ti, []).append((gid, m))
    for ti, t in enumerate(tiles):
        arr = np.zeros((t["h"], t["w"]), dtype=np.int64)
        for gid, m in sorted(by_tile.get(ti, []), key=lambda p: p[0]):
            arr[m] = gid
        out.update(Counter(arr.ravel().tolist()))
    return out


def check_burn(got: Counter, want: Counter, slack: int) -> str | None:
    keys = set(got) | set(want)
    diff = sum(abs(got.get(k, 0) - want.get(k, 0)) for k in keys)
    return f"{diff} burned pixels differ" if diff > 2 * slack else None


def label_count(a: np.ndarray, no_data: float) -> int:
    """4-connected same-value regions of a 2-D array, no-data excluded
    (hooking + pointer-jumping union-find over all neighbour edges)."""
    h, w = a.shape
    idx = np.arange(h * w).reshape(h, w)
    ps = [idx[:, :-1][a[:, :-1] == a[:, 1:]], idx[:-1, :][a[:-1, :] == a[1:, :]]]
    qs = [idx[:, 1:][a[:, :-1] == a[:, 1:]], idx[1:, :][a[:-1, :] == a[1:, :]]]
    p, q = np.concatenate(ps), np.concatenate(qs)
    parent = np.arange(h * w)
    while True:
        rp, rq = parent[p], parent[q]
        if np.array_equal(rp, rq):
            break
        np.minimum.at(parent, np.maximum(rp, rq), np.minimum(rp, rq))
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    roots = np.unique(parent[(a != no_data).ravel()])
    return int(len(roots))


def check_contour(src: dict, binned: dict, interval: float,
                  no_data: float) -> str | None:
    """Bins keep no-data, sit on one lattice of step ``interval`` and are
    monotone in the input value."""
    xs, vs = [], []
    for k, b in binned.items():
        a = src[k]
        if not np.array_equal(a == no_data, b == no_data):
            return f"{k}: no-data mask changed"
        xs.append(a[a != no_data])
        vs.append(b[b != no_data].astype(np.float64))
    x, v = np.concatenate(xs), np.concatenate(vs)
    steps = (v - v.min()) / interval
    if np.abs(steps - np.round(steps)).max() > 1e-3:
        return "bin values are off the interval lattice"
    o = np.argsort(x, kind="stable")
    if np.any(np.diff(v[o]) < -1e-3 * interval):
        return "bins are not monotone in the input"
    return None


def polygonize_expect(binned: dict, no_data: float):
    """Per tile: (pixels per value, region count)."""
    out = {}
    for k, b in binned.items():
        good = b[b != no_data]
        vals, cnt = np.unique(good, return_counts=True)
        out[k] = (dict(zip(vals.astype(np.float64).tolist(), cnt.tolist())),
                  label_count(b, no_data))
    return out


def check_polygonize(got: list[tuple[str, float, int]], want: dict) -> str | None:
    """got: (tile id, value, px_count) per region."""
    px: dict = {}
    regions: Counter = Counter()
    for tid, val, n in got:
        d = px.setdefault(tid, {})
        d[val] = d.get(val, 0) + n
        regions[tid] += 1
    for tid, (wpx, wreg) in want.items():
        if px.get(tid, {}) != wpx:
            return f"{tid}: pixels per value not conserved"
        if regions.get(tid, 0) != wreg:
            return f"{tid}: {regions.get(tid, 0)} regions vs {wreg}"
    extra = set(px) - set(want)
    return f"regions for unknown tiles {sorted(extra)[:3]}" if extra else None
