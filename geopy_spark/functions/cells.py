"""Spark surface of the qcell index (SURVEY.md §2.2 G1-G3).

* ``cell_encode_col`` — pure Column bit math (floor arithmetic +
  Morton interleave via mask/shift ladders), zero Python: the encode of
  the BIG side of every spatial operator stays inside whole-stage
  codegen instead of paying an ArrowEvalPython round-trip
  (byte-identical to kernels.cells.cell_encode, asserted in
  tests/test_cells.py).
* ``cell_parent_expr`` / ``cell_level_col`` — pure Column bit math
  (shiftright/masks), zero Python: hierarchy navigation stays inside
  whole-stage codegen (G2).
* ``cell_ring_udf`` — k-ring neighbors as ArrayType(Long) for explode-based
  kNN expansion (G3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..kernels import cells as K

# Morton spread masks (kernels.cells._spread) — all fit in signed int64
_M1 = 0x5555555555555555
_M2 = 0x3333333333333333
_M4 = 0x0F0F0F0F0F0F0F0F
_M8 = 0x00FF00FF00FF00FF
_M16 = 0x0000FFFF0000FFFF


_M32 = 0x00000000FFFFFFFF


def _spread_col(x: Column) -> Column:
    """Column twin of kernels.cells._spread for inputs < 2^28 (level ≤
    28 grid indexes): bit k of x lands at position 2k. The masked shifts
    never reach the sign bit, so plain long arithmetic is exact."""
    x = x.bitwiseOR(F.shiftleft(x, 16)).bitwiseAND(F.lit(_M16))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(_M8))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(_M4))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(_M2))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(_M1))
    return x


def _compact_col(x: Column) -> Column:
    """Column twin of kernels.cells._compact: gather even-position bits
    into the low 32 (inverse of _spread_col)."""
    x = x.bitwiseAND(F.lit(_M1))
    x = x.bitwiseOR(F.shiftright(x, 1)).bitwiseAND(F.lit(_M2))
    x = x.bitwiseOR(F.shiftright(x, 2)).bitwiseAND(F.lit(_M4))
    x = x.bitwiseOR(F.shiftright(x, 4)).bitwiseAND(F.lit(_M8))
    x = x.bitwiseOR(F.shiftright(x, 8)).bitwiseAND(F.lit(_M16))
    x = x.bitwiseOR(F.shiftright(x, 16)).bitwiseAND(F.lit(_M32))
    return x


def cell_i_col(cell: Column) -> Column:
    """Latitude grid index of a cell id — pure Column bit math (twin of
    kernels.cells.cell_to_ij's first output)."""
    return _compact_col(F.shiftright(cell, 6))


def cell_j_col(cell: Column) -> Column:
    """Longitude grid index of a cell id (twin of cell_to_ij's second
    output)."""
    return _compact_col(F.shiftright(cell, 5))


def ij_to_cell_col(i: Column, j: Column, level: int) -> Column:
    """(i, j) grid indexes → cell id at ``level`` — Column twin of
    kernels.cells.ij_to_cell."""
    m = F.shiftleft(_spread_col(i), 1).bitwiseOR(_spread_col(j))
    return F.shiftleft(m, 5).bitwiseOR(F.lit(level))


def cell_encode_col(lat: Column, lon: Column, level: int) -> Column:
    """(lat°, lon°) → int64 cell id at ``level`` — pure Column algebra,
    replicating kernels.cells.cell_encode operation-for-operation (same
    IEEE double sequence: clamp/wrap, (x+off)/span*2^L, floor, min) so
    ids are byte-identical to the numpy kernel's."""
    n1 = (1 << level) - 1
    nf = float(2 ** level)
    la = F.least(F.greatest(lat.cast("double"), F.lit(-90.0)), F.lit(90.0))
    lo = F.pmod(lon.cast("double") + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    i = F.least(F.floor((la + F.lit(90.0)) / F.lit(180.0) * F.lit(nf)),
                F.lit(n1))
    j = F.least(F.floor((lo + F.lit(180.0)) / F.lit(360.0) * F.lit(nf)),
                F.lit(n1))
    m = F.shiftleft(_spread_col(i), 1).bitwiseOR(_spread_col(j))
    return F.shiftleft(m, 5).bitwiseOR(F.lit(level))


def cell_level_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(31))


def cell_parent_expr(cell_name: str, parent_level: int) -> Column:
    """Ancestor id via Column bit math (no UDF) — mirrors
    kernels.cells.cell_parent; ``cell_name`` is a column name/SQL expr."""
    return F.expr(
        f"shiftleft(shiftright(shiftright({cell_name}, 5), "
        f"2 * (CAST(({cell_name} & 31) AS INT) - {parent_level})), 5) | {parent_level}"
    )


def cell_ring_udf(cell: Column, r: int) -> Column:
    @F.pandas_udf(ArrayType(LongType()))
    def _ring(c: pd.Series) -> pd.Series:
        rings = K.cell_ring(c.to_numpy(np.int64), r)
        return pd.Series([a.tolist() for a in rings])
    return _ring(cell)


def cell_disk_udf(cell: Column, r: int) -> Column:
    """All cells with Chebyshev distance ≤ r (union of rings 0..r)."""
    @F.pandas_udf(ArrayType(LongType()))
    def _disk(c: pd.Series) -> pd.Series:
        arr = c.to_numpy(np.int64)
        parts = [K.cell_ring(arr, k) for k in range(r + 1)]
        return pd.Series([np.concatenate([parts[k][n] for k in range(r + 1)]).tolist()
                          for n in range(len(arr))])
    return _disk(cell)
