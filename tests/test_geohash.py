"""Geohash interchange (G22, round 5): public golden vectors, roundtrip
precision, bounds containment, prefix-nesting property, and the Column
surface through Spark (incl. handoff into the engine's cell join)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopy_spark.kernels import geohash as GH


def test_public_golden_vectors():
    assert GH.encode(np.array([57.64911]), np.array([10.40744]), 11)[0] \
        == "u4pruydqqvj"
    assert GH.encode(np.array([42.6]), np.array([-5.6]), 5)[0] == "ezs42"
    lat, lon = GH.decode(["ezs42"])
    assert lat[0] == pytest.approx(42.60498047, abs=1e-6)
    assert lon[0] == pytest.approx(-5.60302734, abs=1e-6)


def test_roundtrip_bounds_and_prefix_nesting():
    rng = np.random.default_rng(3)
    la = rng.uniform(-90, 90, 2000)
    lo = rng.uniform(-180, 180, 2000)
    gh = GH.encode(la, lo, 12)
    la2, lo2 = GH.decode(gh)
    assert np.abs(la2 - la).max() < 1e-6
    assert np.abs(lo2 - lo).max() < 2e-6
    b0, b1, c0, c1 = GH.decode_bounds(gh)
    assert ((b0 <= la) & (la <= b1) & (c0 <= lo) & (lo <= c1)).all()
    # prefix nesting: the 5-char cell contains the 12-char cell
    p0, p1, q0, q1 = GH.decode_bounds([g[:5] for g in gh])
    assert ((p0 <= b0) & (b1 <= p1) & (q0 <= c0) & (c1 <= q1)).all()


def test_invalid_characters_raise():
    with pytest.raises(ValueError):
        GH.decode_bounds(["ez a2"])
    with pytest.raises(ValueError):
        GH.decode_bounds(["ilo"])  # i, l, o are not in the alphabet


def test_column_surface_and_cell_handoff(spark):
    from geopy_spark.functions.geohash import (geohash_decode_udf,
                                               geohash_encode_udf)
    from geopy_spark.functions import geo

    pts = spark.range(0, 500).select(
        F.col("id"),
        geo.derived_lat(F.col("id")).alias("lat"),
        geo.derived_lon(F.col("id")).alias("lon"))
    enc = pts.withColumn("gh", geohash_encode_udf(F.col("lat"),
                                                  F.col("lon"), 9))
    dec = enc.withColumn("d", geohash_decode_udf(F.col("gh")))
    rows = dec.select("lat", "lon", "d.lat", "d.lon").collect()
    for la, lo, dla, dlo in rows:
        assert abs(la - dla) < 3e-5 and abs(lo - dlo) < 3e-5
    # foreign geohash keys flow into the engine's own cell index: decode
    # centers re-encode to the same S2-style cell as the original point
    from geopy_spark.functions.cells import cell_encode_col
    chk = (dec.withColumn("c_orig", cell_encode_col(F.col("lat"),
                                                    F.col("lon"), 6))
           .withColumn("c_gh", cell_encode_col(F.col("d.lat"),
                                               F.col("d.lon"), 6)))
    n_bad = chk.filter(F.col("c_orig") != F.col("c_gh")).count()
    # 9-char geohash cells (~5 m) sit far inside level-6 cells (~300 km);
    # only points straddling a cell boundary could flip — none at 5 m
    # offsets in this fixture
    assert n_bad == 0


def test_null_and_nan_handling(spark):
    """Review r5: null/NaN coordinates encode to NULL (not the
    valid-looking South-Pole cell); null keys decode to a null struct;
    the kernel refuses non-finite input loudly."""
    with pytest.raises(ValueError):
        GH.encode(np.array([np.nan]), np.array([1.0]), 9)
    from geopy_spark.functions.geohash import (geohash_decode_udf,
                                               geohash_encode_udf)
    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, None, 20.0), (3, float("nan"), 20.0)],
        "id long, lat double, lon double")
    enc = {r.id: r.gh for r in df.select(
        "id", geohash_encode_udf(F.col("lat"), F.col("lon"), 9)
        .alias("gh")).collect()}
    assert enc[1] is not None and enc[2] is None and enc[3] is None
    dec = spark.createDataFrame([(1, "ezs42"), (2, None)],
                                "id long, gh string")
    got = {r.id: r.d for r in dec.select(
        "id", geohash_decode_udf(F.col("gh")).alias("d")).collect()}
    assert abs(got[1].lat - 42.605) < 0.01
    assert got[2].lat is None
    # SQL surface mirrors the semantics
    from geopy_spark.sql_ext import install_sql_functions
    install_sql_functions(spark)
    r = spark.sql("SELECT geohash_encode(CAST(NULL AS DOUBLE), 1.0D, 9) "
                  "AS a, geohash_lat(CAST(NULL AS STRING)) AS b").first()
    assert r.a is None and r.b is None
