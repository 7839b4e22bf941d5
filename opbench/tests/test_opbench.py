"""Tests of the benchmark itself: the event-log reader on a canned log, the
numpy references on hand-worked cases, and the metric names against
BENCHMARK.json.

    python3 -m pytest opbench/tests -q
"""

from __future__ import annotations

import json
import os
import struct
import sys
from collections import Counter

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from opbench import eventlog, reference as R  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


# ------------------------------------------------------------------ event log

def _plan(name, metrics=(), children=()):
    return {"nodeName": name, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics]}


CANNED = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op#1"}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
     "Properties": {"spark.jobGroup.id": "op#1"}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                    "Submission Time": 1010, "Completion Time": 1100,
                    "Accumulables": [
                        {"ID": 1, "Name": "internal.metrics.executorCpuTime",
                         "Value": 2_000_000_000},
                        {"ID": 2, "Name": "internal.metrics.shuffle.write.bytesWritten",
                         "Value": 3 * 2 ** 20},
                        {"ID": 3, "Name": "internal.metrics.diskBytesSpilled",
                         "Value": 2 ** 20},
                        {"ID": 10, "Name": "time to run Python workers",
                         "Value": "250"},
                        {"ID": 11, "Name": "data sent to Python workers",
                         "Value": str(2 * 2 ** 20)},
                        {"ID": 20, "Name": "number of output rows",
                         "Value": "100"}]}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
     "Properties": {"spark.jobGroup.id": "op#1"}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0,
                    "Submission Time": 1050, "Completion Time": 1200,
                    "Accumulables": [
                        {"ID": 4, "Name": "internal.metrics.executorCpuTime",
                         "Value": 500_000_000},
                        # cumulative SQL metric: 250 -> 400 across stages
                        {"ID": 10, "Name": "time to run Python workers",
                         "Value": "400"},
                        {"ID": 21, "Name": "number of output rows",
                         "Value": "40"}]}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1210},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "op#2"}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
     "jobGroupId": "op#1",
     "sparkPlanInfo": _plan("Filter", [("number of output rows", 21)], [
         _plan("InputAdapter", (), [
             _plan("ArrowEvalPython", [("number of output rows", 20)])])])},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 8,
     "jobGroupId": "op#2",
     "sparkPlanInfo": _plan("MapInPandas", [("number of output rows", 31)], [
         _plan("WholeStageCodegen (2)", (), [
             _plan("HashAggregate", [("number of output rows", 30)])])])},
    {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 8,
     "accumUpdates": [[30, 12], [31, 3]]},
]


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(json.dumps(e) for e in CANNED)


def test_group_metrics(log):
    m = eventlog.group_metrics(log, "op#1", 1000, 1300)
    assert m["jobs"] == 1
    assert m["wall_s"] == pytest.approx(0.3)
    # stages cover [1010, 1200]: 190 ms busy of a 300 ms call
    assert m["driver_only_s"] == pytest.approx(0.11)
    assert m["executor_cpu_s"] == pytest.approx(2.5)
    assert m["python_run_s"] == pytest.approx(0.4)
    assert m["to_python_mb"] == pytest.approx(2.0)
    assert m["shuffle_write_mb"] == pytest.approx(3.0)
    assert m["spill_mb"] == pytest.approx(1.0)


def test_jobs_outside_window(log):
    assert eventlog.jobs_outside(log, "op#1", 1000, 1300) == 0
    assert eventlog.jobs_outside(log, "op#1", 1100, 1300) == 1
    assert eventlog.jobs_outside(log, "op#2", 1400, 1500) == 1


def test_plan_rows(log):
    assert eventlog.filter_over_python(log, "op#1") == (100.0, 40.0)
    assert eventlog.map_in_python(log, "op#2") == (12.0, 3.0)
    assert eventlog.filter_over_python(log, "op#2") == (0.0, 0.0)


def test_union_ms():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)]) == 30


# ------------------------------------------------------------------ references

def _wkb_polygon(rings, order="<"):
    out = struct.pack(order + "BI", 1 if order == "<" else 0, 3)
    out += struct.pack(order + "I", len(rings))
    for r in rings:
        out += struct.pack(order + "I", len(r))
        out += b"".join(struct.pack(order + "dd", x, y) for x, y in r)
    return out


SQUARE = [(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]
HOLE = [(0.5, 0.5), (0.5, 1.5), (1.5, 1.5), (1.5, 0.5), (0.5, 0.5)]


def test_wkb_polygon_and_multipolygon():
    polys = R.parse_wkb_polygons(_wkb_polygon([SQUARE, HOLE], ">"))
    assert len(polys) == 1 and len(polys[0]) == 2
    assert polys[0][1][1].tolist() == [0.5, 1.5]
    far = [(x + 10, y) for x, y in SQUARE]
    multi = (struct.pack("<BII", 1, 6, 2) + _wkb_polygon([SQUARE])
             + _wkb_polygon([far]))
    polys = R.parse_wkb_polygons(multi)
    assert [len(p) for p in polys] == [1, 1]
    assert polys[1][0][1].tolist() == [12.0, 0.0]


def test_zone_inside_distance_centroid():
    z = R.Zone(5, _wkb_polygon([SQUARE, HOLE]))
    x = np.array([0.25, 1.0, 3.0, 1.0])
    y = np.array([0.25, 1.0, 1.0, 3.0])
    assert z.inside(x, y).tolist() == [True, False, False, False]
    assert z.edge_dist(x, y).tolist() == pytest.approx([0.25, 0.5, 1.0, 1.0])
    assert z.centroid.tolist() == pytest.approx([1.0, 1.0])
    assert R.Zone(1, _wkb_polygon([[(0, 0), (4, 0), (0, 4), (0, 0)]])) \
        .centroid.tolist() == pytest.approx([4 / 3, 4 / 3])


def test_cells_and_tile_assignment():
    assert R.cell_ids(np.array([-180.0]), np.array([-90.0]), 1)[0] == 1 << 58
    assert R.cell_ids(np.array([0.0]), np.array([0.0]), 1)[0] == \
        (1 << 58) | (1 << 29) | 1
    # res 2: cells are 90 x 45 degrees; the second box straddles lon 0
    want = R.tile_assignment(np.array([10.0, -1.0]), np.array([10.0, 10.0]),
                             np.array([20.0, 1.0]), np.array([20.0, 20.0]), 2)
    c = lambda lon, lat: int(R.cell_ids(np.array([lon]), np.array([lat]), 2)[0])
    assert want == {(0, c(10, 10)), (1, c(-1, 10)), (1, c(1, 10))}
    assert R.check_tile_assignment([(0, c(10, 10)), (1, c(-1, 10)),
                                    (1, c(1, 10))], want) is None
    assert R.check_tile_assignment([(0, c(10, 10))], want) is not None
    assert R.check_tile_assignment([(0, c(10, 10))] * 2, {(0, c(10, 10))}) \
        is not None


def test_pip_and_nearest():
    zs = [R.Zone(1, _wkb_polygon([SQUARE])),
          R.Zone(2, _wkb_polygon([[(x + 1, y) for x, y in SQUARE]]))]
    x = np.array([0.5, 1.6, 5.0, 2.0])
    y = np.array([1.0, 1.0, 1.0, 0.0])          # the last point is on edges
    sure, near = R.pip_pairs(zs, x, y)
    assert sure == {(0, 1), (1, 1), (1, 2)}
    assert (3, 1) in near and (3, 2) in near
    assert R.check_pip([(0, 1), (1, 1), (1, 2)], (sure, near)) is None
    assert R.check_pip([(0, 1), (1, 1), (1, 2), (3, 1)], (sure, near)) is None
    assert R.check_pip([(0, 1), (1, 2)], (sure, near)) is not None

    gid, dist, amb = R.nearest(zs, x, y)
    # inside both: zone 2's centroid (2, 1) is nearer to (1.6, 1) than (1, 1)
    assert gid[:3].tolist() == [1, 2, 2]
    assert dist[:3].tolist() == pytest.approx([0.0, 0.0, 2.0])
    assert amb.tolist() == [False, False, False, True]
    assert R.check_nearest({0: (1, 0.0), 1: (2, 0.0), 2: (2, 2.0),
                            3: (9, 7.0)}, (gid, dist, amb)) is None
    assert R.check_nearest({0: (2, 0.0), 1: (2, 0.0), 2: (2, 2.0),
                            3: (1, 0.0)}, (gid, dist, amb)) is not None


def _tile(arr, x0=0.0, y0=2.0, res=1.0):
    h, w = arr.shape
    return {"gt_x0": x0, "gt_rx": res, "gt_y0": y0, "gt_ry": res,
            "w": w, "h": h, "arr": arr.astype(np.float32)}


def test_zonal_and_burn():
    # 2 x 2 tile over [0,2]^2; pixel centres at x, y in {0.5, 1.5}
    t = _tile(np.array([[1.0, 2.0], [-9999.0, 4.0]]))
    left = R.Zone(1, _wkb_polygon([[(0, 0), (1, 0), (1, 2), (0, 2), (0, 0)]]))
    every = R.Zone(2, _wkb_polygon([SQUARE]))
    masks, edges = R.tile_zone_masks([t], [left, every])
    assert masks[0, 1].tolist() == [[True, False], [True, False]]
    assert masks[0, 2].all() and not edges
    want = R.zonal_stats([t], masks, -9999.0)
    assert want[1] == {"count": 1, "sum": 1.0, "min": 1.0, "max": 1.0,
                       "nodata": 1}
    assert want[2] == {"count": 3, "sum": 7.0, "min": 1.0, "max": 4.0,
                       "nodata": 1}
    assert R.check_zonal(want, want, {}) is None
    off = {**want, 2: {**want[2], "count": 4}}
    assert R.check_zonal(off, want, {}) is not None
    assert R.check_zonal(off, want, {2: 1}) is None
    # zones burn in gid order, so zone 2 covers zone 1 everywhere
    assert R.burn_counts([t], masks) == Counter({2: 4})
    assert R.burn_counts([t], {(0, 1): masks[0, 1]}) == Counter({1: 2, 0: 2})
    assert R.check_burn(Counter({2: 4}), Counter({2: 3, 0: 1}), 0) is not None


def test_label_count():
    nd = -9999.0
    assert R.label_count(np.array([[1, 1, 2], [2, 1, 2], [2, 2, 2]], float), nd) == 2
    assert R.label_count(np.array([[1, 2], [2, 1]], float), nd) == 4
    assert R.label_count(np.array([[1, nd], [nd, 1]]), nd) == 2
    # a spiral: one region that a single min-propagation sweep would split
    a = np.array([[1, 1, 1, 1, 1],
                  [0, 0, 0, 0, 1],
                  [1, 1, 1, 0, 1],
                  [1, 0, 0, 0, 1],
                  [1, 1, 1, 1, 1]], float)
    assert R.label_count(a, nd) == 2


def test_contour_and_polygonize():
    nd = -9999.0
    src = {"t": np.array([[1.0, 12.0], [25.0, nd]], np.float32)}
    good = {"t": np.array([[5.0, 15.0], [25.0, nd]], np.float32)}
    assert R.check_contour(src, good, 10.0, nd) is None
    assert R.check_contour(src, {"t": np.array([[5.0, 15.0], [25.0, 3.0]],
                                               np.float32)}, 10.0, nd)
    assert R.check_contour(src, {"t": np.array([[5.0, 17.0], [25.0, nd]],
                                               np.float32)}, 10.0, nd)
    assert R.check_contour(src, {"t": np.array([[15.0, 5.0], [25.0, nd]],
                                               np.float32)}, 10.0, nd)
    binned = {"t": np.array([[5.0, 5.0], [15.0, 5.0]], np.float32)}
    want = R.polygonize_expect(binned, nd)
    assert want == {"t": ({5.0: 3, 15.0: 1}, 2)}
    assert R.check_polygonize([("t", 5.0, 3), ("t", 15.0, 1)], want) is None
    assert R.check_polygonize([("t", 5.0, 2), ("t", 5.0, 1), ("t", 15.0, 1)],
                              want) is not None
    assert R.check_polygonize([("t", 5.0, 3)], want) is not None


# ------------------------------------------------------------------ names

def test_metric_names_match_benchmark_json():
    from opbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    names = run.per_layer_names()
    assert len(names) == len(set(names))
    assert [m["name"] for m in bench["per_layer"]] == names
    for m in bench["per_layer"]:
        assert m["unit"] == run._unit(m["name"]), m["name"]
    from opbench.workloads import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_kernel_names():
    from opbench import kernels

    assert list(kernels.measure(seed=3)) == list(kernels.NAMES)
