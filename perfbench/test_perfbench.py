"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark-backed tests pin the two internal Spark APIs the traced run
reads (stage data from AppStatusStore, Python-node SQL metrics from
SQLAppStatusStore), and show that the correctness gate counts a tampered
engine result as a failed call.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import oracle, run, sparkstats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def test_parse_metric_formats():
    assert sparkstats.parse_metric("1,504") == 1504
    assert sparkstats.parse_metric("0 ms") == 0
    assert sparkstats.parse_metric(
        "total (min, med, max (stageId: taskId))\n3.5 s (720 ms, 934 ms, 936 ms "
        "(stage 4.0: task 9))") == 3.5
    assert sparkstats.parse_metric(
        "total (min, med, max (stageId: taskId))\n892.1 KiB (219.7 KiB, 224.8 KiB, "
        "225.2 KiB (stage 4.0: task 11))") == pytest.approx(892.1 * 1024)
    with pytest.raises(ValueError):
        sparkstats.parse_metric("n/a")


def test_digest_is_order_insensitive_and_sees_a_dropped_row():
    a = np.arange(100, dtype=np.int64)
    b = a % 7
    o = np.random.default_rng(0).permutation(100)
    assert oracle.digest([a, b]) == oracle.digest([a[o], b[o]])
    assert oracle.digest([a[1:], b[1:]]) != oracle.digest([a, b])
    assert oracle.digest([a, b]) != oracle.digest([b, a])


def test_oracle_point_in_polygon_is_boundary_inclusive():
    diamond = (7, [(0.0, 1.0), (1.0, 2.0), (2.0, 1.0), (1.0, 0.0)],
               [[(0.8, 0.8), (0.8, 1.2), (1.2, 1.2), (1.2, 0.8)]])
    lat = np.array([1.0, 1.0, 0.5, 0.8 + 1e-10, 0.5])
    lon = np.array([0.5, 1.0, 1.5 + 1e-10, 1.0, 1.5 + 1e-6])
    pid, gid = oracle.pip_pairs(np.arange(5), lat, lon, [diamond])
    # inside; in the hole; 1e-10 outside an outer edge; 1e-10 inside the
    # hole's rim; 1e-6 outside
    assert pid.tolist() == [0, 2, 3] and set(gid.tolist()) == {7}


def test_self_time_subtracts_children():
    t = Tracer(True)
    t.pass_id = 0
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and inner.pass_id == 0
    self_s = t.self_times()
    assert self_s["outer"] == pytest.approx(outer.dur - inner.dur)
    assert self_s["inner"] == pytest.approx(inner.dur)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


class _Tampered:
    """A call that returns the engine's real result with one row dropped."""

    def __init__(self, inner):
        self.inner, self.name = inner, inner.name

    def plan(self, inp):
        return self.inner.plan(inp)

    def execute(self, planned):
        return self.inner.execute(planned).iloc[1:]

    def digest(self, out):
        return self.inner.digest(out)


@pytest.fixture(scope="module")
def spark():
    run.configure_env()
    s = run.start_session()
    yield s
    run.shutdown(s)


@pytest.fixture(scope="module")
def spatial_inputs(tmp_path_factory):
    from perfbench import inputs
    sizes = dict(inputs.SIZES["spatial"])
    inputs.SIZES["spatial"].update(points=5000, polygons=12, queries=40)
    try:
        out = str(tmp_path_factory.mktemp("spatial") / "s3")
        inputs.main(["--workload", "spatial", "--seed", "3", "--out", out])
    finally:
        inputs.SIZES["spatial"].update(sizes)
    with open(os.path.join(out, "expected.json")) as f:
        return out, json.load(f)["expected"]


def test_tampered_result_is_a_failed_call(spark, spatial_inputs):
    from perfbench.workloads import Spatial
    d, expected = spatial_inputs
    wl = Spatial(d, 3, None)
    inp = wl.load(spark)
    sj = wl.calls[0]
    wl.calls = [sj, _Tampered(sj)]
    outs = run.run_pass(wl, inp, expected, Tracer(False), None, 0)
    assert [o.ok for o in outs] == [True, False]
    assert outs[1].got[0] == outs[0].got[0] - 1


def test_spark_metric_schemas_are_pinned(spark):
    """Stage fields and Python-node SQL metric names the traced run reads
    exist under these names on the pinned Spark release."""
    import pyspark
    from pyspark.sql import functions as F
    assert pyspark.__version__ == sparkstats.SPARK_VERSION

    @F.pandas_udf("double")
    def twice(x: pd.Series) -> pd.Series:
        return x * 2.0

    stats = sparkstats.SparkStats(spark)
    stats.begin("pin")
    left = spark.range(0, 20_000, 1, 4).withColumn("y", twice(F.col("id").cast("double")))
    right = spark.range(0, 100).withColumnRenamed("id", "k")
    df = left.join(right, left.id % 100 == right.k).groupBy("k").agg(F.sum("y"))
    assert len(df.toPandas()) == 100
    st = stats.end("pin")
    assert st.jobs >= 1 and st.stages >= 1 and st.tasks >= 4
    assert st.run_s > 0 and st.cpu_s > 0 and st.covered_s > 0
    assert st.shuffle_write_bytes > 0 and st.shuffle_read_bytes > 0
    assert st.widest_tasks >= 4 and st.max_over_median >= 1.0
    py = [n for nodes in st.nodes for n in nodes.values()
          if sparkstats.is_python_node(n)]
    assert py, "no Python node found in the SQL plan graph"
    for name in list(sparkstats.PYTHON_METRICS) + [sparkstats.ROWS]:
        assert name in py[0].metrics, f"SQL metric {name!r} missing"
    totals = sparkstats.python_totals(st)
    assert totals["python.rows_recv"] == 20_000
    assert totals["python.bytes_sent"] > 0 and totals["python.udf_s"] >= 0
    assert max(sparkstats.node_rows(st, sparkstats.JOIN_NODES)) == 20_000
