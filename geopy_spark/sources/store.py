"""Cell-bucketed, cell-sorted point storage (SURVEY.md §4.3; the
"sorted-cell indexes" of the north_star's kNN, BASELINE.json:6).

Layout: parquet partitioned by a COARSE parent cell (directory-level
partition pruning) and sorted by the fine cell within every file (tight
parquet row-group min/max stats → predicate pushdown skips row groups).
Readers that filter on a cell range touch only the matching coarse
directories and, inside them, only row groups whose [min,max] overlaps —
both prunings are visible in `.explain` (PartitionFilters / PushedFilters).

This is the narrow-read substrate the kNN/spatial join operators assume at
100 TB: a ring expansion reads O(ring) cells, not O(table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import cell_encode_col, cell_parent_expr


def write_points_sorted(points: DataFrame, path: str, *,
                        level: int, coarse_level: int,
                        lat: str = "lat", lon: str = "lon") -> None:
    """points(+lat,lon) → parquet partitioned by pcell (coarse), sorted by
    cell (fine) within files."""
    df = (points
          .withColumn("cell", cell_encode_col(F.col(lat), F.col(lon), level))
          .withColumn("pcell", cell_parent_expr("cell", coarse_level)))
    (df.repartition("pcell")
       .sortWithinPartitions("cell")
       .write.mode("overwrite")
       .partitionBy("pcell")
       .parquet(path))


def read_cells(spark: SparkSession, path: str, cells: list[int],
               coarse_level: int) -> DataFrame:
    """Read only the rows in the given fine cells: coarse-partition filter
    prunes directories, fine-cell IN-filter pushes into row-group stats."""
    import numpy as np

    from ..kernels.cells import cell_parent
    pcells = sorted(set(cell_parent(np.asarray(cells, dtype=np.int64),
                                    coarse_level).tolist()))
    df = spark.read.parquet(path)
    return df.filter(F.col("pcell").isin(pcells) & F.col("cell").isin(cells))
