"""qcell index kernels: golden bit-layout vectors, hierarchy laws, ring
topology (SURVEY.md §5.2 item 2-3)."""

import numpy as np

from geopy_spark.kernels import cells as K


def test_golden_vectors():
    # documented bit layout: id = morton(i,j) << 5 | level
    assert K.cell_encode(np.array([-90.0]), np.array([-180.0]), 0)[0] == 0
    # (0,0) @ L1 → i=1, j=1 → morton=3 → 3<<5|1 = 97
    assert K.cell_encode(np.array([0.0]), np.array([0.0]), 1)[0] == 97
    # (45,90) @ L2 → i=3, j=3 → morton=15 → 15<<5|2 = 482
    assert K.cell_encode(np.array([45.0]), np.array([90.0]), 2)[0] == 482


def test_roundtrip_center_and_level():
    rng = np.random.default_rng(3)
    lat = rng.uniform(-89.99, 89.99, 5000)
    lon = rng.uniform(-180, 180, 5000)
    for lvl in (0, 5, 14, 28):
        c = K.cell_encode(lat, lon, lvl)
        assert (K.cell_level(c) == lvl).all()
        clat, clon = K.cell_center(c)
        half = K.cell_size_deg(lvl)
        assert np.all(np.abs(clat - lat) <= half)
        # lon cells are 2x wider
        dlon = np.abs(clon - lon)
        dlon = np.minimum(dlon, 360 - dlon)
        assert np.all(dlon <= 2 * half)


def test_parent_child_laws():
    rng = np.random.default_rng(4)
    lat = rng.uniform(-89, 89, 2000)
    lon = rng.uniform(-180, 180, 2000)
    c10 = K.cell_encode(lat, lon, 10)
    for pl in (9, 5, 0):
        assert np.array_equal(K.cell_parent(c10, pl), K.cell_encode(lat, lon, pl))
    ch = K.cell_children(K.cell_parent(c10, 9))
    assert all(c10[i] in ch[i] for i in range(len(c10)))
    # children of a parent all re-parent to it
    par = K.cell_parent(c10, 9)
    for k in range(4):
        assert np.array_equal(K.cell_parent(ch[:, k], 9), par)


def test_ring_counts_and_wrap():
    c = K.cell_encode(np.array([10.0]), np.array([20.0]), 10)
    assert len(K.cell_ring(c, 0)[0]) == 1
    assert len(K.cell_ring(c, 1)[0]) == 8
    assert len(K.cell_ring(c, 3)[0]) == 24
    # antimeridian wrap: east neighbor of easternmost cell is westernmost
    ce = K.cell_encode(np.array([0.0]), np.array([179.999]), 8)
    cw = K.cell_encode(np.array([0.0]), np.array([-179.999]), 8)
    assert cw[0] in K.cell_ring(ce, 1)[0]
    # pole clamp: top row has no northern neighbors → ring smaller
    cp = K.cell_encode(np.array([89.9]), np.array([0.0]), 6)
    assert len(K.cell_ring(cp, 1)[0]) == 5


def test_disk_rect():
    c = K.cell_encode(np.array([0.0, 50.0]), np.array([0.0, 10.0]), 8)
    disks = K.cell_disk_rect(c, np.array([1, 2]), np.array([2, 1]))
    assert len(disks[0]) == 3 * 5
    assert len(disks[1]) == 5 * 3
    # every disk member is within the chebyshev rect
    i0, j0, _ = K.cell_to_ij(c)
    i, j, _ = K.cell_to_ij(disks[0])
    assert np.abs(i.astype(int) - int(i0[0])).max() <= 1
    assert np.abs(j.astype(int) - int(j0[0])).max() <= 2


def test_z_order_locality():
    # ids sorted at one level follow a Z-curve: children of one parent are
    # contiguous in sorted order
    rng = np.random.default_rng(5)
    lat = rng.uniform(-89, 89, 512)
    lon = rng.uniform(-180, 180, 512)
    c = np.sort(K.cell_encode(lat, lon, 12))
    p = K.cell_parent(c, 11)
    # sorted children → parents are non-decreasing in blocks
    changes = (np.diff(p.astype(np.int64)) != 0).sum()
    assert changes == len(np.unique(p)) - 1


def test_column_encode_matches_kernel(spark):
    """cell_encode_col is pure Column bit math — ids must
    stay byte-identical to the numpy kernel at every level (the Morton
    ladder changes shape at levels 2, 3, 5, 9 and 17), hemisphere
    edges, clamp/wrap inputs and cell boundaries."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geopy_spark.functions.cells import cell_encode_col

    rng = np.random.default_rng(11)
    lat = np.concatenate([
        rng.uniform(-90, 90, 4000),
        np.array([-90.0, 90.0, 0.0, 89.999999, -89.999999, 45.0, 95.0, -95.0]),
    ])
    lon = np.concatenate([
        rng.uniform(-180, 180, 4000),
        np.array([-180.0, 180.0, 0.0, 179.999999, -179.999999, 360.5, -725.0, 90.0]),
    ])
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    levels = range(K.MAX_LEVEL + 1)
    got = df.select(*[cell_encode_col(F.col("lat"), F.col("lon"), lvl)
                      .alias(f"c{lvl}") for lvl in levels]).toPandas()
    for lvl in levels:
        want = K.cell_encode(lat, lon, lvl)
        assert np.array_equal(got[f"c{lvl}"].to_numpy(np.int64), want), \
            f"level {lvl} mismatch"
    # the expression must stay UDF-free (codegen path, guide §4.1)
    plan = df.select(cell_encode_col(F.col("lat"), F.col("lon"), 8))._jdf \
        .queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_column_ij_roundtrip_matches_kernel(spark):
    """cell_i_col/cell_j_col/ij_to_cell_col are the Column twins of
    cell_to_ij/ij_to_cell — the codegen disk fan-out depends on them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geopy_spark.functions.cells import (cell_i_col, cell_j_col,
                                             ij_to_cell_col)

    rng = np.random.default_rng(12)
    lat = rng.uniform(-90, 90, 3000)
    lon = rng.uniform(-180, 180, 3000)
    levels = range(K.MAX_LEVEL + 1)
    cells = {lvl: K.cell_encode(lat, lon, lvl) for lvl in levels}
    df = spark.createDataFrame(pd.DataFrame(
        {f"c{lvl}": cells[lvl] for lvl in levels}))
    ij = df.select(*[col for lvl in levels for col in (
        cell_i_col(F.col(f"c{lvl}"), lvl).alias(f"i{lvl}"),
        cell_j_col(F.col(f"c{lvl}"), lvl).alias(f"j{lvl}"))])
    # `back` reads the projected i/j columns; inlining the compact
    # ladders into both spread ladders would multiply the tree sizes
    got = ij.select("*", *[
        ij_to_cell_col(F.col(f"i{lvl}"), F.col(f"j{lvl}"), lvl)
        .alias(f"back{lvl}") for lvl in levels]).toPandas()
    for lvl in levels:
        ii, jj, _ = K.cell_to_ij(cells[lvl])
        assert np.array_equal(got[f"i{lvl}"].to_numpy(np.int64),
                              ii.astype(np.int64)), f"level {lvl} i"
        assert np.array_equal(got[f"j{lvl}"].to_numpy(np.int64),
                              jj.astype(np.int64)), f"level {lvl} j"
        assert np.array_equal(got[f"back{lvl}"].to_numpy(np.int64),
                              cells[lvl]), f"level {lvl} back"


def test_column_cell_expressions_stay_small(spark):
    """The Morton ladders emit only the steps the level needs: every
    step names its input twice, so the unconditional five-step ladder
    made 32 copies of the grid index (1,407 analysed tree lines for one
    encode at any level). Pinned at level 8 (3 steps)."""
    from pyspark.sql import functions as F

    from geopy_spark.functions.cells import (cell_encode_col, cell_i_col,
                                             ij_to_cell_col)

    df = spark.createDataFrame([(1.0, 2.0, 3)],
                               "lat double, lon double, cell long")

    def tree_lines(col):
        expr = df.select(col.alias("x"))._jdf.queryExecution() \
            .analyzed().expressions().apply(0)
        return len(expr.treeString().splitlines())

    assert tree_lines(cell_encode_col(F.col("lat"), F.col("lon"), 8)) <= 400
    assert tree_lines(cell_i_col(F.col("cell"), 8)) <= 100
    assert tree_lines(ij_to_cell_col(F.col("cell"), F.col("cell"), 8)) <= 100
