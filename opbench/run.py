"""Benchmark entry point.

    python3 opbench/run.py --workload vector_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds diagnostics that no metric is
derived from. See README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3                 # set-ups per run; setup_s is their median
WARMUP_PASSES = 2          # the cold pass and one more; see README.md
PROBE_SCALE = 0.125        # size of the probe pass of other workloads' ops

END_TO_END = {"setup_s": "s", "images_per_s": "1/s", "cpu_ms_per_image": "ms",
              "peak_rss_mb": "MB"}
OP_MEDIANS = ("wall_s", "driver_only_s")
OP_MEANS = ("jobs", "executor_cpu_s", "python_run_s", "to_python_mb",
            "shuffle_write_mb", "spill_mb")
LAYER_FIXED = ("sjoin.pip_join.refine_in_rows", "sjoin.pip_join.refine_keep_ratio",
               "zonal.zonal_statistics.pairs_in",
               "zonal.zonal_statistics.pair_keep_ratio",
               "setup.session_s", "setup.inputs_s", "warmup.cold_pass_s",
               "trace.overhead_ratio", "trace.jobs_outside_window",
               "host.probe_ms")


def per_layer_names() -> list[str]:
    """Every metric a ``--trace 1`` run prints."""
    from opbench import kernels
    from opbench.workloads import GATE_NAMES, WORKLOADS

    wls = WORKLOADS.values()
    return ([f"{op}.{k}" for w in wls for op in w.ops
             for k in OP_MEDIANS + OP_MEANS]
            + [n for w in wls for n in w.stat_names]
            + [*LAYER_FIXED, *kernels.NAMES, *GATE_NAMES])


def _session(workdir: str, event_log: bool):
    from gis_tools_spark import get_spark

    # A fixed, pre-touched 2 GB driver heap: the host is shared, so the
    # heap is bounded, and a heap that grows with GC timing made the JVM's
    # RSS (most of peak_rss_mb) differ by 13% between runs. The JVM's share
    # is now constant; Python processes and off-heap memory still move it.
    # The JVM's temp files (native libraries it unpacks, Spark's artifact
    # directory) go to the run's work directory, and it writes no perf
    # data file, so a run writes nothing outside the checkout.
    tmp = os.path.join(workdir, "tmp")
    conf = {"spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch "
                                             f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.eventLog.enabled": str(event_log).lower()}
    if event_log:
        os.makedirs(os.path.join(workdir, "events"), exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + os.path.join(workdir, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("opbench", cpus=len(os.sched_getaffinity(0)), **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Runs passes of a workload and accumulates what the metrics need."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.attempted = self.failed = 0
        self.op_wall: dict[str, float] = {}   # summed timed wall per operator
        self.spans: list[dict] = []     # one per traced call
        self.group_no = 0

    def one_pass(self, wl, pass_no: int, counted: bool):
        from opbench.harness import tree_cpu_s

        wall = cpu = 0.0
        t_pass = time.perf_counter()
        for op, run, check in wl.calls(pass_no):
            group = None
            if self.trace and counted:
                self.group_no += 1
                group = f"{op}#{self.group_no}"
                self.sc.setJobGroup(group, op)
            c0, e0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
            try:
                out, err = run(), None
            except Exception:  # a failing call is a failed operation
                out, err = None, traceback.format_exc(limit=3)
            t1, e1, c1 = time.perf_counter(), time.time(), tree_cpu_s()
            if self.trace:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if err is None:
                try:
                    err = check(out)
                except Exception:
                    err = traceback.format_exc(limit=3)
            if counted:
                wall += t1 - t0
                self.op_wall[op] = self.op_wall.get(op, 0.0) + t1 - t0
                cpu += c1 - c0
                self.attempted += 1
                if err is not None:
                    self.failed += 1
                    print(f"FAILED {wl.name} {op}: {err}", file=sys.stderr)
                if group:
                    self.spans.append({"op": op, "group": group,
                                       "start_ms": e0 * 1e3, "end_ms": e1 * 1e3,
                                       "pass": pass_no})
        after = getattr(wl, "after_pass", None)
        if after:
            after(pass_no)
        return wall, cpu, time.perf_counter() - t_pass

    def warm_up(self, wl, first_pass: int = 0,
                passes: int = WARMUP_PASSES) -> float:
        """Untimed passes; returns the wall time of the first (cold) one."""
        return [self.one_pass(wl, first_pass + k, False)[2]
                for k in range(passes)][0]

    def timed(self, wl, seconds: float, first_pass: int):
        """Passes until ``seconds`` of pass time have elapsed. Returns
        (summed call wall, summed call CPU, passes, peak RSS MB)."""
        from opbench.harness import RssSampler

        wall = cpu = 0.0
        passes = 0
        t0 = time.perf_counter()
        with RssSampler() as rss:
            while passes == 0 or time.perf_counter() - t0 < seconds:
                w, c, _ = self.one_pass(wl, first_pass + passes, True)
                wall, cpu, passes = wall + w, cpu + c, passes + 1
        return wall, cpu, passes, rss.peak_mb


def _set_up(name: str, seed: int, workdir: str):
    """SETUPS times: start a session, generate and load the inputs. All
    but the last session are stopped. Returns (spark, workload, parts)."""
    from opbench.workloads import WORKLOADS

    parts = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = _session(workdir, event_log=False)
        t1 = time.perf_counter()
        wl = WORKLOADS[name](seed, workdir)
        wl.load(spark)
        parts.append((t1 - t0, time.perf_counter() - t1))
        if k < SETUPS - 1:
            wl.unload()
            spark.stop()
    return spark, wl, parts


def _layer_metrics(runner, log_path, wl_ops, kernel_stats):
    from opbench import eventlog
    from opbench.harness import median

    log = eventlog.read(log_path)
    out: dict[str, float] = {}
    outside = 0
    by_op: dict[str, list[dict]] = {}
    for s in runner.spans:
        m = eventlog.group_metrics(log, s["group"], s["start_ms"], s["end_ms"])
        by_op.setdefault(s["op"], []).append(m)
        outside += eventlog.jobs_outside(log, s["group"], s["start_ms"],
                                         s["end_ms"])
    for op in wl_ops:
        ms = by_op.get(op, [])
        for key in OP_MEDIANS:
            out[f"{op}.{key}"] = median([m[key] for m in ms])
        for key in OP_MEANS:
            out[f"{op}.{key}"] = sum(m[key] for m in ms) / max(1, len(ms))

    def per_call(fn, op):
        groups = [s["group"] for s in runner.spans if s["op"] == op]
        ins = outs = 0.0
        for g in groups:
            i, o = fn(log, g)
            ins, outs = ins + i, outs + o
        n = max(1, len(groups))
        return ins / n, (outs / ins if ins else 0.0)

    rin, keep = per_call(eventlog.filter_over_python, "sjoin.pip_join")
    out["sjoin.pip_join.refine_in_rows"] = rin
    out["sjoin.pip_join.refine_keep_ratio"] = keep
    pin, pkeep = per_call(eventlog.map_in_python, "zonal.zonal_statistics")
    out["zonal.zonal_statistics.pairs_in"] = pin
    out["zonal.zonal_statistics.pair_keep_ratio"] = pkeep
    out.update(kernel_stats)
    return out, outside


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gis_tools_spark")):
        print(f"no gis_tools_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from opbench import harness, kernels
    from opbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".opbench_work", str(os.getpid()))
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")   # Python workers too
    spark = None
    try:
        probe_before = harness.host_probe_ms()
        spark, wl, parts = _set_up(args.workload, args.seed, workdir)
        wl.prepare()
        gates = wl.gates(spark)
        runner = Runner(spark, trace=False)
        cold = runner.warm_up(wl)
        seconds = args.seconds / 2 if args.trace else args.seconds
        wall, cpu, passes, peak = runner.timed(wl, seconds, WARMUP_PASSES)
        images = wl.images * passes
        end_to_end = {
            "setup_s": harness.median([a + b for a, b in parts]),
            "images_per_s": images / wall,
            "cpu_ms_per_image": cpu * 1e3 / images,
            "peak_rss_mb": peak,
        }
        diag = {"setup_parts_s": parts,
                "setup.session_s": harness.median([a for a, _ in parts]),
                "setup.inputs_s": harness.median([b for _, b in parts]),
                "warmup.cold_pass_s": cold,
                "timed.passes": passes, "images_per_pass": wl.images,
                "op_wall_s": runner.op_wall, **gates}
        correct_fail = runner.failed
        attempted = runner.attempted

        if args.trace:
            wl.unload()
            spark.stop()
            spark = _session(workdir, event_log=True)
            wl.load(spark)
            traced = Runner(spark, trace=True)
            traced.warm_up(wl, 1000, passes=1)     # the JVM is already warm
            t_wall, _, t_passes, _ = traced.timed(wl, seconds, 2000)
            ops, stats = list(wl.ops), dict(wl.stats)
            for other in WORKLOADS.values():
                if other.name == wl.name:
                    continue
                probe = other(args.seed, workdir, scale=PROBE_SCALE)
                probe.load(spark)
                probe.prepare()
                traced.one_pass(probe, 3000, True)
                probe.unload()
                ops += other.ops
                stats = {**probe.stats, **stats}
            spark.stop()
            spark = None
            kernel_stats = kernels.measure(args.seed)
            log_path = glob_one(os.path.join(workdir, "events", "*"))
            layers, outside = _layer_metrics(traced, log_path, ops, kernel_stats)
            layers.update(stats)
            layers.update({k: diag[k] for k in (
                "setup.session_s", "setup.inputs_s", "warmup.cold_pass_s",
                *gates)})
            layers["trace.overhead_ratio"] = \
                (wl.images * t_passes / t_wall) / end_to_end["images_per_s"]
            layers["trace.jobs_outside_window"] = float(outside)
            correct_fail += traced.failed + (outside > 0)
            attempted += traced.attempted
        diag["host.probe_ms"] = harness.median([probe_before,
                                                harness.host_probe_ms()])
        if args.trace:
            layers["host.probe_ms"] = diag["host.probe_ms"]
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
            expected = per_layer_names()
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end.items()}
            expected = list(END_TO_END)
        if set(metrics) != set(expected):
            raise RuntimeError("metric names differ from the declared ones: "
                               f"{sorted(set(metrics) ^ set(expected))}")
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps({"correct": correct_fail == 0, "attempted": attempted,
                          "failed": correct_fail, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass


def _stop_jvm():
    """End the JVM PySpark launched and wait until it and the Python
    workers it forked have exited."""
    from pyspark import SparkContext

    from opbench.harness import tree_pids

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()          # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def glob_one(pattern: str) -> str:
    import glob

    found = glob.glob(pattern)
    if len(found) != 1:
        raise RuntimeError(f"expected one event log, found {found}")
    return found[0]


def _unit(name: str) -> str:
    if name.startswith("codec.decode_ms."):
        return "ms"
    last = name.rsplit(".", 1)[-1]
    for end, unit in (("_s", "s"), ("_ms", "ms"), ("_us", "us"), ("_ns", "ns"),
                      ("_mb", "MB"), ("_bytes", "B"), ("ratio", "ratio"),
                      ("per_input_byte", "ratio")):
        if last.endswith(end):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
