"""Sorted-cell store pruning + physical-plan discipline assertions
(SURVEY.md §4.1/§4.3)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA, regions_df
from geopy_spark.functions.cells import cell_encode_col
from geopy_spark.kernels import cells as K
from geopy_spark.plans import explain as X
from geopy_spark.sources.store import read_cells, write_points_sorted


@pytest.fixture(scope="module")
def store_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("store") / "pts")
    img = synth.make_images_pdf(3000, with_pixels=False)
    pts = spark.createDataFrame(
        img[["image_id", "lat", "lon"]].rename(columns={"image_id": "id"}))
    write_points_sorted(pts, p, level=10, coarse_level=4)
    return p


def test_read_cells_correct_and_pruned(spark, store_path):
    img = synth.make_images_pdf(3000, with_pixels=False)
    cells = K.cell_encode(img["lat"].to_numpy(), img["lon"].to_numpy(), 10)
    target = [int(cells[0]), int(cells[1]), int(cells[100])]
    got = read_cells(spark, store_path, target, coarse_level=4)
    exp_ids = set(img["image_id"].to_numpy()[np.isin(cells, target)])
    assert {r.id for r in got.collect()} == exp_ids
    # partition pruning engaged on the coarse cell, fine filter pushed
    X.assert_partition_filter(got, "pcell")
    X.assert_pushed_filter(got, "cell")


def test_spatial_join_plan_is_broadcast_and_pruned(spark):
    from geopy_spark.operators.spatial_join import spatial_join
    img = synth.make_images_pdf(500, with_pixels=False)
    pts = spark.createDataFrame(
        img[["image_id", "lat", "lon"]].rename(columns={"image_id": "point_id"}))
    out = spatial_join(pts, regions_df(spark), point_id="point_id", level=6)
    X.assert_broadcast_join(out)


def test_tile_query_prunes_bytes_column(spark):
    """The tile-stats path must never read the image `bytes` column when
    it doesn't decode (ReadSchema pruning — 100 TB discipline)."""
    from geopy_spark.operators.tiling import tile_stats
    import pandas as pd
    pdf = synth.make_images_pdf(50)
    df = spark.createDataFrame(pdf)
    df.write.mode("overwrite").parquet("/tmp/_prune_probe.parquet")
    onDisk = spark.read.parquet("/tmp/_prune_probe.parquet")
    leaf = tile_stats(onDisk, z=5)
    X.assert_column_pruned(leaf, "bytes")
    X.assert_column_pruned(leaf, "caption")


def test_ivf_plan_broadcast_probes_no_assignment_shuffle(spark):
    """IVF discipline (operators/similarity.ivf_topk): centroid assignment
    is a narrow map (NO Exchange between the scan and the cid column —
    the 16 cosines evaluate inline per row), and the candidate join
    broadcasts the tiny probe side. The only exchanges allowed are the
    probe-side broadcast and the final per-query window shuffle."""
    import pandas as pd

    from geopy_spark.operators import similarity as SIM
    from geopy_spark.plans import explain as X

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"vec_id": range(200),
                        "embedding": [r.tolist() for r in
                                      rng.standard_normal((200, 64))]})
    emb = spark.createDataFrame(pdf)
    # assignment alone: zero exchanges — fused into the scan
    cents = SIM.ivf_centroids(8, 64, 11)
    asn = emb.select("vec_id", SIM.ivf_assign(F.col("embedding"), cents).alias("cid"))
    assert X.count_exchanges(asn) == 0, X.plan_text(asn)[:2000]
    # full query: probe side broadcast; no shuffle of the corpus for the join
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.ivf_topk(emb, qs, k=3, n_centroids=8, nprobe=2)
    X.assert_broadcast_join(out)
    plan = X.plan_text(out)
    # exactly one shuffle Exchange (the window partitionBy query_id);
    # broadcast exchanges are fine and not counted here
    shuffles = X.count_shuffle_exchanges(out)
    assert shuffles <= 1, f"unexpected corpus shuffle ({shuffles}):\n{plan[:3000]}"


def test_grouped_agg_partial_before_shuffle(spark):
    """Hash aggregation must be partial+final (map-side combine)."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = X.plan_text(agg)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_round2_query_plans_disciplined(spark):
    """Plan discipline for the round-2 relational queries: pruned
    ReadSchema, pushed filters, and no more exchanges than the operation
    inherently needs (audited manually via explain('formatted') on
    2026-08-17; these assertions pin the audited shape)."""
    import __spark_entry__ as E
    qs = E.queries()
    sf = "/root/testdata/sf0.001"

    # windowed_aggs (tumbling+sliding union): ts filter pushed to the
    # scans, events.props never read in either branch
    ws = qs["windowed_aggs"](spark, sf)
    X.assert_pushed_filter(ws, "ts")
    X.assert_column_pruned(ws, "props")  # events.props never read

    # stats_agg / weighted_avg_udaf: one shuffle each
    for name in ("stats_agg", "weighted_avg_udaf"):
        df = qs[name](spark, sf)
        n = X.count_shuffle_exchanges(df)
        assert 1 <= n <= 1, (name, n)  # exactly the one agg shuffle

    # percentiles (round 3: + t-digest sketch branch): the exact-agg
    # shuffle plus the sketch's centroid-array shuffle — never more
    # (the raw values shuffle exactly once)
    n = X.count_shuffle_exchanges(qs["percentiles"](spark, sf))
    assert 1 <= n <= 2, ("percentiles", n)

    # events_json (from_json + json-path + regex paths): only
    # event_type+props read
    ej = qs["events_json"](spark, sf)
    X.assert_column_pruned(ej, "user_id")
    X.assert_column_pruned(ej, "value")

    # exact_dedup: partial+final agg (map-side combine of fingerprints)
    ed = qs["exact_dedup"](spark, sf)
    assert X.plan_text(ed).count("HashAggregate") >= 2
