"""geopy_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 6 --trace 0

A closed loop with one client: the driver process runs the workload's
calls one after another on ``local[nproc]`` and starts the next call only
when the previous result is complete. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see perfbench/README.md for both lists). The line before it
carries the host record and the raw samples.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
from statistics import median
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SLOTS = len(os.sched_getaffinity(0))
SETUP_ROUNDS = 3
DRIVER_MEM = "3g"

END_TO_END = {"setup_s": "s", "pass_s": "s"}
ALL_CALLS = ("spatial_join", "knn", "within_distance", "tile_ingest")
FORMATS = ("raw", "ppm", "rle", "qjpg", "png")
# EP-3 stages, named by the icetab partition each one writes ("leaf" is
# the z=<zmax> partition, "pyramid" the partitioned write of the rest)
TILE_STAGES = ("join_pairs", "digests", "verify", "leaf", "pyramid")
PER_LAYER = (
    ["session.start_s", "session.load_s", "session.warm_s"]
    + [f"{m}.{c}" for c in ALL_CALLS
       for m in ("call_s", "plan_s", "driver_s", "busy_frac", "jobs")]
    + ["spark.jobs", "spark.stages", "spark.tasks", "exec.run_s",
       "exec.jvm_cpu_s", "exec.gc_s", "exec.busy_frac", "shuffle.read_bytes",
       "shuffle.write_bytes", "spill.bytes", "task.max_over_median", "driver.s",
       "python.udf_s", "python.boot_s", "python.init_s", "python.rows_recv",
       "python.bytes_sent", "python.bytes_recv",
       "sj.cover_rows", "sj.join_rows", "sj.pip_rows", "sj.pip_hit_frac",
       "knn.candidates", "knn.cand_per_result", "wd.candidates", "wd.hit_frac",
       "commit.s", "write.files", "write.bytes_per_input_byte"]
    + [f"stage_s.{s}" for s in TILE_STAGES]
    + ["pip.kernel_pts_per_s", "cover.kernel_polys_per_s"]
    + [f"decode.kernel_imgs_per_s.{f}" for f in FORMATS]
    + ["trace.overhead_s"])


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    head, _, tail = name.partition(".")
    if "per_s" in name:
        return "1/s"
    if head.endswith("_s") or tail.endswith("_s") or tail == "s":
        return "s"
    if "frac" in name or "over_median" in name or "_per_" in name:
        return "ratio"
    if "bytes" in name:
        return "B"
    return "count"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ inputs

def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the seeded inputs in a separate process that
    has exited before this function returns."""
    from perfbench.inputs import SIZES
    h = hashlib.sha1(json.dumps(SIZES[workload], sort_keys=True).encode())
    for src in ("inputs.py", "oracle.py"):
        with open(os.path.join(HERE, src), "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:8]
    d = os.path.join(CACHE, "inputs", f"{workload}-s{seed}-{key}")
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--out", d], check=True, stdout=sys.stderr)
    with open(os.path.join(d, "expected.json")) as f:
        return d, json.load(f)


def configure_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    tmp = os.path.join(CACHE, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(CACHE, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp} "
                                "pyspark-shell"),
    })


# ------------------------------------------------------------------ calls

@dataclass
class Outcome:
    name: str
    wall: float = 0.0
    plan: float = 0.0
    ok: bool = False
    got: object = None      # the call's digest
    stats: object = None    # sparkstats.CallStats in a traced pass


def run_call(call, inp, expected, tracer, stats, group: str) -> Outcome:
    from perfbench.workloads import check
    o = Outcome(call.name)
    if stats is not None:
        stats.begin(group)
    t0 = time.monotonic()
    out = None
    try:
        with tracer.span(call.name):
            with tracer.span(f"{call.name}.plan"):
                planned = call.plan(inp)
            t1 = time.monotonic()
            with tracer.span(f"{call.name}.execute"):
                out = call.execute(planned)
        o.plan, o.wall = t1 - t0, time.monotonic() - t0
    except Exception:
        log(f"{call.name} raised:\n{traceback.format_exc()}")
        o.wall = time.monotonic() - t0
        if stats is not None:
            stats.end(group)
        return o
    if stats is not None:
        o.stats = stats.end(group)
    try:
        o.got = call.digest(out)
        o.ok = check(o.got, expected)
    except Exception:
        log(f"{call.name} result check raised:\n{traceback.format_exc()}")
    if not o.ok:
        log(f"{call.name}: result {o.got} != expected {expected}")
    return o


def run_pass(wl, inp, expected, tracer, stats, pass_id: int) -> list:
    tracer.pass_id = pass_id
    with tracer.span("pass"):
        return [run_call(c, inp, expected[c.name], tracer, stats,
                         f"perfbench-{pass_id}-{c.name}") for c in wl.calls]


# ------------------------------------------------------------------ session

def start_session():
    from geopy_spark.session import get_spark
    spark = get_spark("perfbench", cores=SLOTS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext
    return getattr(SparkContext._gateway, "proc", None)


def shutdown(spark) -> None:
    """Stop the session, then end the JVM (and with it the Python worker
    daemon) and wait for it."""
    from pyspark import SparkContext
    proc = jvm_process()
    spark.stop()
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------------ per layer

def pass_layer_metrics(wl, outs, pass_spans, wall) -> dict:
    from perfbench import sparkstats as S
    from perfbench.inputs import TILE_ZMAX
    m = dict.fromkeys(PER_LAYER, 0.0)
    tot = S.CallStats()
    written = 0
    for o in outs:
        st, c = o.stats, o.name
        m[f"call_s.{c}"] = o.wall
        m[f"plan_s.{c}"] = o.plan
        if isinstance(o.got, dict):
            m["write.files"] += o.got["files"]
            written += o.got["bytes"]
        if st is None:
            continue
        m[f"driver_s.{c}"] = max(0.0, o.wall - st.covered_s)
        m[f"busy_frac.{c}"] = st.run_s / (o.wall * SLOTS)
        m[f"jobs.{c}"] = st.jobs
        for f in ("jobs", "stages", "tasks", "covered_s", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(tot, f, getattr(tot, f) + getattr(st, f))
        if st.widest_tasks > tot.widest_tasks:
            tot.widest_tasks, tot.max_over_median = st.widest_tasks, st.max_over_median
        for k, v in S.python_totals(st).items():
            m[k] += v
        rows = o.got[0] if isinstance(o.got, list) else 0
        joins = max(S.node_rows(st, S.JOIN_NODES), default=0)
        if c == "spatial_join":
            m["sj.cover_rows"] = sum(S.node_rows(st, ("Generate",)))
            m["sj.join_rows"] = joins
            m["sj.pip_rows"] = sum(S.python_inputs(st, "ArrowEvalPython"))
            m["sj.pip_hit_frac"] = rows / m["sj.pip_rows"] if m["sj.pip_rows"] else 0.0
        elif c == "knn":
            m["knn.candidates"] = joins
            m["knn.cand_per_result"] = joins / rows if rows else 0.0
        elif c == "within_distance":
            m["wd.candidates"] = joins
            m["wd.hit_frac"] = rows / joins if joins else 0.0
    m.update({"spark.jobs": tot.jobs, "spark.stages": tot.stages,
              "spark.tasks": tot.tasks, "exec.run_s": tot.run_s,
              "exec.jvm_cpu_s": tot.cpu_s, "exec.gc_s": tot.gc_s,
              "exec.busy_frac": tot.run_s / (wall * SLOTS),
              "shuffle.read_bytes": tot.shuffle_read_bytes,
              "shuffle.write_bytes": tot.shuffle_write_bytes,
              "spill.bytes": tot.spill_bytes,
              "task.max_over_median": tot.max_over_median,
              "driver.s": max(0.0, wall - tot.covered_s),
              "write.bytes_per_input_byte": (written / wl.input_bytes
                                             if wl.input_bytes else 0.0)})
    # a stage runs from its icetab write to the end of the commit after it
    stage = None
    for sp in pass_spans:
        if sp.name.startswith("icetab.write:"):
            part = sp.name.split(":", 1)[1]
            stage = ("leaf" if part == f"z={TILE_ZMAX}" else part, sp.start)
        elif sp.name == "icetab.commit":
            m["commit.s"] += sp.dur
            if stage and stage[0] in TILE_STAGES:
                m[f"stage_s.{stage[0]}"] += sp.end - stage[1]
            stage = None
    return m


def kernel_metrics(wl, data_dir: str) -> dict:
    """Throughput of the numpy kernels called directly on the workload's
    own inputs (median of three timings each)."""
    import numpy as np
    import pyarrow.parquet as pq

    def rate(n, fn):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return n / median(ts)

    m = {}
    if wl.name == "spatial":
        from geopy_spark.kernels import pip as P
        from perfbench.inputs import SJ_LEVEL
        with open(os.path.join(data_dir, "regions.json")) as f:
            polys = json.load(f)
        pts = pq.read_table(os.path.join(data_dir, "points")).slice(0, 20_000)
        lat = pts.column("lat").to_numpy()
        lon = pts.column("lon").to_numpy()
        rings = [(np.asarray(p[1], dtype=np.float64),
                  [np.asarray(h, dtype=np.float64) for h in p[2]]) for p in polys]
        m["pip.kernel_pts_per_s"] = rate(lat.size * len(rings), lambda: [
            P.points_in_polygon(lat, lon, r, h) for r, h in rings])
        m["cover.kernel_polys_per_s"] = rate(len(rings), lambda: [
            P.polygon_cover(r, SJ_LEVEL, holes=h) for r, h in rings])
    else:
        from geopy_spark.kernels import codecs
        imgs = pq.read_table(os.path.join(data_dir, "images")).to_pandas()
        for fmt in FORMATS:
            sub = imgs[imgs["fmt"] == fmt].head(50)
            m[f"decode.kernel_imgs_per_s.{fmt}"] = rate(len(sub), lambda: [
                codecs.decode(r.bytes, r.fmt, int(r.w), int(r.h))
                for r in sub.itertuples(index=False)])
    return m


# ------------------------------------------------------------------ main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for need in ("geopy_spark", "jobs"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            log(f"no {need}/ next to perfbench/: run from a repository checkout")
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    configure_env()

    t_gen = time.monotonic()
    data_dir, meta = ensure_inputs(a.workload, a.seed)
    gen_wall = time.monotonic() - t_gen
    expected = meta["expected"]

    before = host.snapshot()
    from perfbench.sparkstats import SparkStats
    scratch = os.path.join(CACHE, "out", str(os.getpid()))
    wl = WORKLOADS[a.workload](data_dir, a.seed, scratch)
    tracer = Tracer(False)
    # set-up rounds: session start -> inputs loaded; the first round also
    # pays the process, JVM and first-job start, later ones restart the
    # session in the same JVM
    rounds = []
    spark = None
    for r in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        t0 = T_PROCESS + gen_wall if r == 0 else time.monotonic()
        spark = start_session()
        t1 = time.monotonic()
        inp = wl.load(spark)
        t2 = time.monotonic()
        rounds.append({"setup_s": t2 - t0, "start_s": t1 - t0, "load_s": t2 - t1})
    # warm-up: the first pass pays Python worker start, codegen and cold
    # JIT and is counted into set-up; further warm-up passes (where the
    # workload's JIT settles slowly) are in no metric. All are checked.
    warmup = [run_pass(wl, inp, expected, tracer, None, -n)
              for n in range(wl.warmup_passes, 0, -1)]
    first = warmup[0]

    stats = SparkStats(spark) if a.trace else None
    undo = []
    if a.trace:
        from geopy_spark.sources.icetab import IceTable
        undo = [tracer.wrap(IceTable, "write_partition",
                            lambda self, df, partition, *x, **k: f"icetab.write:{partition}"),
                tracer.wrap(IceTable, "write_partitioned",
                            lambda *x, **k: "icetab.write:pyramid"),
                tracer.wrap(IceTable, "commit", "icetab.commit")]

    # timed passes for at least --seconds, and at least one (in a traced
    # run at least one untraced and one traced)
    passes = []
    t_start = time.monotonic()
    while len(passes) < 1 + a.trace or time.monotonic() - t_start < a.seconds:
        traced = bool(a.trace) and len(passes) % 2 == 1
        tracer.enabled = traced
        n_spans = len(tracer.spans)
        outs = run_pass(wl, inp, expected, tracer, stats if traced else None,
                        len(passes))
        wall = sum(o.wall for o in outs)
        p = {"wall": wall, "traced": traced, "outs": outs}
        if traced:
            p["layers"] = pass_layer_metrics(wl, outs, tracer.spans[n_spans:], wall)
        passes.append(p)
    for u in undo:
        u()
    after = host.snapshot()

    outs_all = [o for w in warmup for o in w] + [o for p in passes for o in p["outs"]]
    attempted = len(outs_all)
    failed = sum(not o.ok for o in outs_all)
    plain = [p["wall"] for p in passes if not p["traced"]]
    if a.trace:
        layers = [p["layers"] for p in passes if p["traced"]]
        metrics = {k: median([l[k] for l in layers]) for k in PER_LAYER}
        metrics["session.start_s"] = median([r["start_s"] for r in rounds])
        metrics["session.load_s"] = median([r["load_s"] for r in rounds])
        metrics["session.warm_s"] = sum(o.wall for o in first)
        metrics["trace.overhead_s"] = (
            median([p["wall"] for p in passes if p["traced"]]) - median(plain))
        metrics.update(kernel_metrics(wl, data_dir))
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(CACHE, "traces", f"{wl.name}-s{a.seed}.json"))
    else:
        metrics = {"setup_s": (median([r["setup_s"] for r in rounds])
                               + sum(o.wall for o in first)),
                   "pass_s": median(plain)}

    detail = {
        "workload": wl.name, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "gen_s": meta.get("gen_s"), "gen_wall_s": gen_wall,
        "rows_in": meta["rows_in"],
        "setup_rounds": rounds,
        "warmup": [{o.name: round(o.wall, 4) for o in w} for w in warmup],
        "passes": [{"wall": p["wall"], "traced": p["traced"],
                    "calls": {o.name: round(o.wall, 4) for o in p["outs"]}}
                   for p in passes],
        "host": host.record(before, after, SLOTS, ROOT),
    }
    shutdown(spark)
    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
