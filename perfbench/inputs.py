"""Seeded input generation and expected outputs, run as its own process.

    python3 perfbench/inputs.py --workload spatial --seed 3 --out <dir>

writes the workload's input tables (parquet) and ``expected.json`` into
``<dir>`` and exits; the benchmark starts timing only after this process
has ended, so no generator work or generator process overlaps a
measurement. The same seed always gives the same files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geopy_spark import synth  # noqa: E402
from perfbench import oracle  # noqa: E402

SIZES = {
    "spatial": {"points": 100_000, "polygons": 100, "queries": 1000},
    "tile_ingest": {"images": 2000},
}

# Operator parameters shared by the generator (expected outputs) and the
# workload (engine calls).
SJ_LEVEL = 7
KNN_K, KNN_LEVEL = 10, 8
WD_RADIUS_M, WD_LEVEL = 100_000.0, 6
TILE_LEVEL, TILE_ZMAX, TILE_POLYS = 7, 8, 48


def _write(pdf: pd.DataFrame, path: str, files: int = 1) -> None:
    """Parquet with ``files`` row-group-sized files, so a scan fans out."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        t = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))


def _points(rng, n: int) -> pd.DataFrame:
    # lineitem-style keys (orderkey * 8 + linenumber) through the
    # repository's derived-coordinate transform: a 3-decimal lat/lon grid
    order = rng.choice(6_000_000, size=n, replace=False) + 1
    line = rng.integers(1, 8, size=n)
    key = (order * 8 + line).astype(np.int64)
    return pd.DataFrame({"point_id": key, "lat": synth.derived_lat_np(key),
                         "lon": synth.derived_lon_np(key)})


def gen_spatial(seed: int, out: str) -> dict:
    sz = SIZES["spatial"]
    rng = np.random.default_rng(seed)
    pts = _points(rng, sz["points"])
    regions = synth.oracle_polygons_holed(sz["polygons"], seed=seed)
    qs = synth.make_knn_queries_pdf(sz["queries"], seed=seed)
    _write(pts, os.path.join(out, "points"))
    with open(os.path.join(out, "regions.json"), "w") as f:
        json.dump(regions, f)
    _write(qs, os.path.join(out, "queries"))

    pid, lat, lon = (pts[c].to_numpy() for c in ("point_id", "lat", "lon"))
    exp = {}
    exp["spatial_join"] = oracle.digest(list(oracle.pip_pairs(pid, lat, lon, regions)))
    idx = oracle.LatIndex(pid, lat, lon)
    qid, qlat, qlon = (qs[c].to_numpy() for c in ("query_id", "lat", "lon"))
    exp["knn"] = oracle.digest(oracle.knn_rows(qid, qlat, qlon, idx, KNN_K))
    exp["within_distance"] = oracle.digest(
        oracle.within_rows(qid, qlat, qlon, idx, WD_RADIUS_M))
    return {"expected": exp, "rows_in": int(sz["points"])}


def gen_tile_ingest(seed: int, out: str) -> dict:
    n_img = SIZES["tile_ingest"]["images"]
    # disjoint id ranges per seed; positions and pixels derive from the id
    imgs = synth.make_images_pdf(n_img, start=seed * n_img)
    imgs["w"] = imgs["w"].astype("int32")
    imgs["h"] = imgs["h"].astype("int32")
    _write(imgs, os.path.join(out, "images"), files=4)

    lat, lon = imgs["lat"].to_numpy(), imgs["lon"].to_numpy()
    polys = synth.oracle_polygons(TILE_POLYS, seed=7)  # the job's fixture
    pp, _ = oracle.pip_pairs(np.arange(lat.size), lat, lon, polys)
    exp = {"tile_ingest": {"join_pairs": int(pp.size),
                           "tile_rows": oracle.tile_rows(lat, lon, TILE_ZMAX),
                           "verified": True}}
    return {"expected": exp, "rows_in": int(n_img)}


GENERATORS = {"spatial": gen_spatial, "tile_ingest": gen_tile_ingest}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    t0 = time.monotonic()
    tmp = f"{a.out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = GENERATORS[a.workload](a.seed, tmp)
    meta["gen_s"] = time.monotonic() - t0
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
