"""Spark surface of the qcell index (SURVEY.md §2.2 G1-G3).

* ``cell_encode_col`` — pure Column bit math (floor arithmetic +
  Morton interleave via mask/shift ladders), zero Python: the encode of
  the BIG side of every spatial operator stays inside whole-stage
  codegen instead of paying an ArrowEvalPython round-trip
  (byte-identical to kernels.cells.cell_encode, asserted in
  tests/test_cells.py). ``latlon_to_ij_col`` is its grid-index half,
  shared with kNN's occupied-cell histogram.
* ``cell_i_col`` / ``cell_j_col`` / ``ij_to_cell_col`` — the same
  ladders between cell ids and (i, j) grid indexes, for kNN's Column
  disk fan-out.
* ``cell_parent_expr`` — pure Column bit math (shiftright/masks), zero
  Python: hierarchy navigation stays inside whole-stage codegen (G2).

Cost model of the ladders. A Column expression is a tree, not a DAG: a
spread step ``x = (x | x << s) & M`` names its input twice, so every
step doubles the copies of the grid index (and of the whole
clamp/wrap/floor subtree under it) that Catalyst analyses, optimizes and
codegen compiles. Five unconditional steps made 32 copies, ~1,400 tree
nodes per ``cell_encode_col``. The level is a plan-time constant and a
grid index at level L is below 2^L, so a step with shift s ≥ L is the
identity and is not emitted: at most 3 steps (8 copies) up to level 8,
4 at 9–16, all 5 only at 17–28. Ids are bit-identical at every level.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Morton ladder steps (kernels.cells._spread/_compact) as (shift, mask
# after the step); every mask fits in signed int64
_SPREAD_STEPS = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                 (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                 (1, 0x5555555555555555))
_COMPACT_STEPS = ((1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                  (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                  (16, 0x00000000FFFFFFFF))
_M1 = 0x5555555555555555


def _spread_col(x: Column, level: int) -> Column:
    """Column twin of kernels.cells._spread for a grid index x < 2^level
    (level ≤ 28): bit k of x lands at position 2k. The masked shifts
    never reach the sign bit, so plain long arithmetic is exact.

    A step with shift s is the identity for x < 2^s, so only the steps
    with s < level are emitted (module docstring: each step doubles the
    copies of x in the tree)."""
    for s, m in _SPREAD_STEPS:
        if s < level:
            x = x.bitwiseOR(F.shiftleft(x, s)).bitwiseAND(F.lit(m))
    return x


def _compact_col(x: Column, level: int) -> Column:
    """Column twin of kernels.cells._compact (inverse of _spread_col):
    gather the even-position bits of a level-``level`` Morton code into
    the low ``level`` bits. Before the step with shift s the low s bits
    of x are already gathered, so steps with s ≥ level have nothing left
    to move and are skipped as in _spread_col."""
    x = x.bitwiseAND(F.lit(_M1))
    for s, m in _COMPACT_STEPS:
        if s < level:
            x = x.bitwiseOR(F.shiftright(x, s)).bitwiseAND(F.lit(m))
    return x


def cell_i_col(cell: Column, level: int) -> Column:
    """Latitude grid index of a cell id at ``level`` — pure Column bit
    math (twin of kernels.cells.cell_to_ij's first output)."""
    return _compact_col(F.shiftright(cell, 6), level)


def cell_j_col(cell: Column, level: int) -> Column:
    """Longitude grid index of a cell id at ``level`` (twin of
    cell_to_ij's second output)."""
    return _compact_col(F.shiftright(cell, 5), level)


def ij_to_cell_col(i: Column, j: Column, level: int) -> Column:
    """(i, j) grid indexes → cell id at ``level`` — Column twin of
    kernels.cells.ij_to_cell."""
    m = (F.shiftleft(_spread_col(i, level), 1)
         .bitwiseOR(_spread_col(j, level)))
    return F.shiftleft(m, 5).bitwiseOR(F.lit(level))


def latlon_to_ij_col(lat: Column, lon: Column,
                     level: int) -> tuple[Column, Column]:
    """(lat°, lon°) → (i, j) long grid indexes at ``level`` — the
    clamp/wrap, (x+off)/span*2^L, floor, min sequence of
    kernels.cells.latlon_to_ij, one IEEE double op for op, so every
    Column keyed by it agrees with the numpy kernels."""
    n1 = (1 << level) - 1
    nf = float(2 ** level)
    la = F.least(F.greatest(lat.cast("double"), F.lit(-90.0)), F.lit(90.0))
    lo = F.pmod(lon.cast("double") + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    i = F.least(F.floor((la + F.lit(90.0)) / F.lit(180.0) * F.lit(nf)),
                F.lit(n1))
    j = F.least(F.floor((lo + F.lit(180.0)) / F.lit(360.0) * F.lit(nf)),
                F.lit(n1))
    return i, j


def cell_encode_col(lat: Column, lon: Column, level: int) -> Column:
    """(lat°, lon°) → int64 cell id at ``level`` — pure Column algebra,
    replicating kernels.cells.cell_encode operation-for-operation
    (latlon_to_ij_col, then the level-bounded Morton interleave) so ids
    are byte-identical to the numpy kernel's."""
    return ij_to_cell_col(*latlon_to_ij_col(lat, lon, level), level)


def cell_parent_expr(cell_name: str, parent_level: int) -> Column:
    """Ancestor id via Column bit math (no UDF) — mirrors
    kernels.cells.cell_parent; ``cell_name`` is a column name/SQL expr."""
    return F.expr(
        f"shiftleft(shiftright(shiftright({cell_name}, 5), "
        f"2 * (CAST(({cell_name} & 31) AS INT) - {parent_level})), 5) | {parent_level}"
    )

