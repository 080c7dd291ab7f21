"""The benchmark's workloads, each defined once.

A workload loads its generated inputs into a session and lists its calls.
A call has three steps: ``plan`` (the public operator call up to the lazy
frame it returns, including any eager guard jobs), ``execute`` (the
action that produces the complete result) and ``digest`` (untimed: the
row count and order-insensitive hash compared with the expected output).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA
from geopy_spark.operators.knn import knn_join, within_distance_join
from geopy_spark.operators.spatial_join import spatial_join
from geopy_spark.sources.tableio import open_table
from jobs import tile_pipeline

from . import inputs as I
from . import oracle


class FrameCall:
    """An operator call whose result is a DataFrame, collected via Arrow."""

    def __init__(self, name, build, cols):
        self.name, self.build, self.cols = name, build, cols

    def plan(self, inp):
        return self.build(inp)

    def execute(self, df):
        return df.toPandas()

    def digest(self, pdf):
        return list(oracle.digest(
            [pdf[c].fillna(-1).astype("int64").to_numpy() for c in self.cols]))


class JobCall:
    """A jobs/ entry point run in the benchmark's session, each time into
    a fresh icetab output directory."""

    def __init__(self, name, module, argv, digest):
        self.name, self.module, self.argv, self._digest = name, module, argv, digest

    def plan(self, inp):
        out = os.path.join(inp["out_dir"], f"{self.name}-{uuid.uuid4().hex[:8]}")
        args = self.module.build_args(self.argv(inp) + ["--output", out])
        return out, args, inp["spark"]

    def execute(self, planned):
        out, args, spark = planned
        return out, self.module.run(args, spark, stop_session=False)

    def digest(self, result):
        out, res = result
        try:
            got = self._digest(open_table(out), res)
            got["files"], got["bytes"] = output_footprint(out)
            return got
        finally:
            shutil.rmtree(out, ignore_errors=True)


def output_footprint(out_dir: str) -> tuple[int, int]:
    """(data files, bytes) an icetab table holds."""
    files = size = 0
    for r, _, fs in os.walk(out_dir):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(r, f))
    return files, size


def _regions(spark, path):
    with open(path) as f:
        polys = json.load(f)
    return spark.createDataFrame(synth.polygons_pdf(polys), schema=_REGIONS_SCHEMA)


class Spatial:
    """Read-only: the point-in-polygon join (Python cover and PIP kernels
    behind Arrow) and the proximity family (the kNN histogram collect and
    bound UDF; the distance join, which has no Python node at all)."""

    name = "spatial"
    warmup_passes = 1

    def __init__(self, data_dir: str, seed: int, scratch: str):
        self.dir = data_dir
        self.input_bytes = 0
        self.calls = [
            FrameCall("spatial_join", lambda i: spatial_join(
                i["pts"], i["regions"], point_id="point_id", level=I.SJ_LEVEL),
                ["point_id", "poly_id"]),
            FrameCall("knn", lambda i: knn_join(
                i["qs"], i["ids"], k=I.KNN_K, level=I.KNN_LEVEL, point_id="id"),
                ["query_id", "neighbor_id", "rank"]),
            FrameCall("within_distance", lambda i: within_distance_join(
                i["qs"], i["ids"], I.WD_RADIUS_M, level=I.WD_LEVEL,
                point_id="id"), ["query_id", "id"]),
        ]

    def load(self, spark) -> dict:
        pts = spark.read.parquet(os.path.join(self.dir, "points"))
        pts.count()
        return {"spark": spark, "pts": pts,
                "qs": spark.read.parquet(os.path.join(self.dir, "queries")),
                "ids": pts.select(F.col("point_id").alias("id"), "lat", "lon"),
                "regions": _regions(spark, os.path.join(self.dir, "regions.json"))}


def _tile_digest(table, res):
    return {"join_pairs": table.partition_rows("join_pairs"),
            "tile_rows": sum(table.partition_rows(f"z={z}")
                             for z in range(I.TILE_ZMAX + 1)),
            # the job raises on any violation; one committed gate row
            # proves the verify stage ran
            "verified": table.partition_rows("verify") == 1}


class TileIngest:
    """Write-heavy: EP-3, the tile pipeline with payload decode and the
    verify gate, into a fresh icetab table per pass."""

    name = "tile_ingest"
    # 26 Spark jobs of distinct shapes: after one warm-up pass the next
    # still runs 5-35 % slow and varies most; a second warm-up halved the
    # run-to-run spread of pass_s over ten seeds (0.22 -> 0.12)
    warmup_passes = 2

    def __init__(self, data_dir: str, seed: int, scratch: str):
        self.dir, self.scratch = data_dir, scratch
        self.calls = [JobCall("tile_ingest", tile_pipeline, lambda i: [
            "--input", i["images"], "--decode", "--verify",
            "--level", str(I.TILE_LEVEL), "--zmax", str(I.TILE_ZMAX),
            "--cores", os.environ.get("SPARK_GRAFT_CPUS", "4")], _tile_digest)]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(os.path.join(data_dir, "images")) for f in fs)

    def load(self, spark) -> dict:
        os.makedirs(self.scratch, exist_ok=True)
        inp = {"spark": spark, "images": os.path.join(self.dir, "images"),
               "out_dir": self.scratch}
        spark.read.parquet(inp["images"]).count()
        return inp


WORKLOADS = {"spatial": Spatial, "tile_ingest": TileIngest}


def check(got, expected) -> bool:
    """Does a call's digest match its expected output?"""
    if isinstance(got, dict):
        return all(got.get(k) == v for k, v in expected.items())
    return list(got) == list(expected)
