"""Pre-bucketed polygon-cover store (round 5, VERDICT r4 #9): repeated
joins against a static region layer skip the cover UDF and the cover
shuffle — pair-set equality vs the plain operator, and the plan
guarantees: zero Exchanges on the bucketed⋈bucketed join, no cover UDF
anywhere, exactly one points-side Exchange on the ad-hoc path."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA
from geopy_spark.functions import geo
from geopy_spark.operators.spatial_join import spatial_join
from geopy_spark.plans.explain import count_shuffle_exchanges, plan_text
from geopy_spark.sources.bucketed import ensure_database
from geopy_spark.sources import polystore as PS

LEVEL = 6


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, multipolygon_pdf):
    loc = str(tmp_path_factory.mktemp("polywh"))
    ensure_database(spark, "polydemo", loc)
    # the two-part MultiPolygon checks per-geometry PIP grouping on the
    # bucketed and ad-hoc paths against the batch operator
    regions = spark.createDataFrame(
        pd.concat([synth.polygons_pdf(synth.oracle_polygons_holed(16, seed=7)),
                   multipolygon_pdf], ignore_index=True),
        schema=_REGIONS_SCHEMA)
    pts = spark.range(0, 4000).select(
        F.col("id").alias("point_id"),
        geo.derived_lat(F.col("id")).alias("lat"),
        geo.derived_lon(F.col("id")).alias("lon"))
    PS.write_region_cover_bucketed(regions, "polydemo.cover",
                                   level=LEVEL, n_buckets=8)
    PS.write_points_bucketed(pts, "polydemo.pts", level=LEVEL, n_buckets=8)
    yield regions, pts
    spark.sql("DROP DATABASE polydemo CASCADE")


def test_bucketed_join_matches_plain_operator(spark, store):
    regions, pts = store
    want = {(r.point_id, r.poly_id)
            for r in spatial_join(pts, regions, point_id="point_id",
                                  level=LEVEL,
                                  broadcast_regions=True).collect()}
    got = {(r.point_id, r.poly_id)
           for r in PS.spatial_join_bucketed(
               spark, "polydemo.pts", "polydemo.cover").collect()}
    assert got == want and len(want) > 0
    # hits in both MultiPolygon parts (lat 20..35 / -35..-20)
    lat = {r.point_id: r.lat for r in pts.collect()}
    assert {lat[p] > 0 for p, q in want if q == 900} == {True, False}
    adhoc = {(r.point_id, r.poly_id)
             for r in PS.spatial_join_against_cover(
                 pts, spark, "polydemo.cover", level=LEVEL).collect()}
    assert adhoc == want


def test_second_join_plan_zero_exchanges_no_cover_udf(spark, store):
    """The store's reason to exist: a SECOND join against the layer has
    ZERO Exchange nodes (both sides read pre-bucketed) and the polygon
    cover UDF is nowhere in the plan — the only python eval left is the
    exact PIP residual. The non-bucketed twin proves the assert bites."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = PS.spatial_join_bucketed(spark, "polydemo.pts",
                                     "polydemo.cover")
        j.count()  # "first" join; the plan below is the repeat join
        j2 = PS.spatial_join_bucketed(spark, "polydemo.pts",
                                      "polydemo.cover")
        plan = plan_text(j2)
        assert "SortMergeJoin" in plan
        assert count_shuffle_exchanges(j2) == 0, plan[:3000]
        # exactly ONE python eval span: the PIP residual (cover UDF gone);
        # count detail entries, the formatted plan names each node twice
        import re
        assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan,
                              re.M)) == 1, plan[:3000]
        assert "BatchEvalPython" not in plan

        regions, pts = store
        plain = spatial_join(pts, regions, point_id="point_id",
                             level=LEVEL, broadcast_regions=False)
        assert count_shuffle_exchanges(plain) >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_adhoc_points_pay_one_exchange_cover_side_none(spark, store):
    _, pts = store
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = PS.spatial_join_against_cover(pts, spark, "polydemo.cover",
                                          level=LEVEL)
        plan = plan_text(j)
        # the one Exchange aligns the ad-hoc points with the cover's
        # bucketing; a second one (cover side) must NOT appear
        assert count_shuffle_exchanges(j) == 1, plan[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_bucketed_level_mismatch_raises(spark, store, tmp_path_factory):
    """Review r5: both bucketed paths fail LOUDLY on a cell-level
    mismatch (the join would silently return nothing)."""
    regions, pts = store
    PS.write_points_bucketed(pts, "polydemo.pts7", level=LEVEL + 1,
                             n_buckets=8)
    with pytest.raises(ValueError, match="level"):
        PS.spatial_join_bucketed(spark, "polydemo.pts7", "polydemo.cover")
    with pytest.raises(ValueError, match="level"):
        PS.spatial_join_against_cover(pts, spark, "polydemo.cover",
                                      level=LEVEL + 1)
    spark.sql("DROP TABLE polydemo.pts7")
