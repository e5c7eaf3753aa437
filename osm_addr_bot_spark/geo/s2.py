"""S2 cell ids (level 15) in pure numpy, from the published algorithm.

The `s2sphere`/`s2geometry` libraries are not installed in this sandbox,
so this is a from-scratch vectorized implementation of the public S2
cell-id scheme (faces of the cube, quadratic u,v->s,t projection,
Hilbert-curve position via 4-bit lookup tables):
https://s2geometry.io/devguide/s2cell_hierarchy

The engine computes `s2_15` per element at parse (`with_s2_cell`), the
second half of the paper's dual index. Nothing reads it yet: every
spatial join is a hash equi-join on hex cells, no table is range-
partitioned or sorted by it, and no join uses `s2_parent` (native
bit-arithmetic coarse cells). The column rides to the guilt phase,
which drops it.

Cell ids are the standard uint64, reinterpreted as signed int64 for
Spark's LongType (faces 4-5 come out negative; `s2_parent` relies only
on equality and prefix masking, which the reinterpretation keeps).

Self-consistency is tested (tests/test_geo.py): parent/child prefix
containment, locality of nearby points, face coverage, golden vectors
frozen from this implementation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP_MASK = 1
_INVERT_MASK = 2

# Hilbert sub-cell traversal tables (published S2 constants)
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENTATION = (_SWAP_MASK, 0, 0, _INVERT_MASK + _SWAP_MASK)

_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
_LOOKUP_IJ = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)


def _init_lookup_cell(level, i, j, orig_orientation, pos, orientation):
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig_orientation] = (pos << 2) + orientation
        _LOOKUP_IJ[(pos << 2) + orig_orientation] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orientation]
    for index in range(4):
        _init_lookup_cell(
            level,
            i + (r[index] >> 1),
            j + (r[index] & 1),
            orig_orientation,
            pos + index,
            orientation ^ _POS_TO_ORIENTATION[index],
        )


for _o in range(4):
    _init_lookup_cell(0, 0, 0, _o, 0, _o)


def _latlon_to_xyz(lat: np.ndarray, lon: np.ndarray):
    phi = np.radians(lat)
    theta = np.radians(lon)
    cos_phi = np.cos(phi)
    return cos_phi * np.cos(theta), cos_phi * np.sin(theta), np.sin(phi)


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face)
    # u,v per face (published mapping); unchosen branches may divide by 0
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.choose(face, [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.choose(face, [z / x, z / y, -y / z, y / x, -x / y, -x / z])
    return face.astype(np.uint64), u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (the S2_QUADRATIC_PROJECTION default)."""
    with np.errstate(invalid="ignore"):  # unchosen where-branch may sqrt(<0)
        return np.where(u >= 0, 0.5 * np.sqrt(1 + 3 * u), 1 - 0.5 * np.sqrt(1 - 3 * u))


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    ij = np.floor(s * (1 << MAX_LEVEL)).astype(np.int64)
    return np.clip(ij, 0, (1 << MAX_LEVEL) - 1).astype(np.uint64)


def _from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf (level 30) cell ids, vectorized table-driven Hilbert encode."""
    n = face << np.uint64(60)
    bits = face & np.uint64(_SWAP_MASK)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        ks = np.uint64(k * _LOOKUP_BITS)
        bits += ((i >> ks) & mask) << np.uint64(_LOOKUP_BITS + 2)
        bits += ((j >> ks) & mask) << np.uint64(2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= np.uint64(_SWAP_MASK | _INVERT_MASK)
    return n * np.uint64(2) + np.uint64(1)


def cell_id(lat: np.ndarray, lon: np.ndarray, level: int = 15) -> np.ndarray:
    """S2 cell id at ``level`` as signed int64 (uint64 bit pattern)."""
    x, y, z = _latlon_to_xyz(np.asarray(lat, float), np.asarray(lon, float))
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    leaf = _from_face_ij(face, i, j)
    lsb = np.uint64(1 << (2 * (MAX_LEVEL - level)))
    snapped = (leaf & ~(lsb - np.uint64(1))) | lsb
    return snapped.view(np.int64)


def parent_id(cell: np.ndarray, level: int) -> np.ndarray:
    """Parent cell at coarser ``level`` (numpy; see s2_parent for Column)."""
    u = np.asarray(cell, np.int64).view(np.uint64)
    lsb = np.uint64(1 << (2 * (MAX_LEVEL - level)))
    return ((u & ~(lsb - np.uint64(1))) | lsb).view(np.int64)


def with_s2_cell(df, level: int = 15, out: str = "s2_15"):
    """Append the S2 cell id of (lat, lon) as a NATIVE column — the same
    table-driven Hilbert encode as ``cell_id``, expressed as Spark SQL
    (guide §4: the S2 math is trivial next to the JVM->Python boundary
    it used to pay; removing the ArrowEvalPython node removes the
    per-executor Python worker fleet from the parse stage).

    Exactness: mirrors the numpy path operation for operation — IEEE
    doubles through the same projection formulas, then pure integer
    bit arithmetic (two's-complement shifts/masks equal uint64 bit
    patterns; faces 4-5 wrap negative identically). Property-tested
    equal to ``cell_id`` on random global points and the frozen golden
    vectors (tests/test_geo.py).

    Shape: x/y/z, face and i/j are materialized columns (four
    withColumns batches — a per-sweep column chain was measured to add
    ~5 s of DRIVER plan-analysis time per pipeline build, since every
    DataFrame step re-analyzes the whole growing plan); the 8-sweep
    Hilbert encode itself is ONE SQL ``aggregate()`` over
    sequence(7,0,-1) threading (n, bits) through a struct accumulator —
    the per-nibble lookup chain would otherwise nest exponentially
    (bits_k feeds both bits_{k+1} and the position accumulator). The
    lambda is interpreted, but it is 8 iterations of integer ops per
    row; the 4096-entry Hilbert table is a constant-folded
    array<bigint> literal (bigint, NOT int: JVM int shifts mask the
    distance mod 32, which silently corrupts the k>=4 nibbles).
    """
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    c = F.col

    def tmp(name):  # collision-proof scratch names
        return f"_s2t_{name}"

    scratch: list[str] = []

    def add(frame, **cols):
        scratch.extend(cols.keys())
        return frame.withColumns({k: v for k, v in cols.items()})

    la, lo = c("lat"), c("lon")
    # cos(phi) is inlined into x and y in ONE batch (codegen CSE
    # de-duplicates it inside the projection; a separate withColumns
    # step would cost another full driver-side analysis pass)
    cphi = F.cos(F.radians(la))
    df = add(
        df,
        **{
            tmp("x"): cphi * F.cos(F.radians(lo)),
            tmp("y"): cphi * F.sin(F.radians(lo)),
            tmp("z"): F.sin(F.radians(la)),
        },
    )
    x, y, z = c(tmp("x")), c(tmp("y")), c(tmp("z"))
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    f0 = F.when(ax >= ay, F.when(ax >= az, 0).otherwise(2)).otherwise(
        F.when(ay >= az, 1).otherwise(2)
    )
    comp = F.when(f0 == 0, x).when(f0 == 1, y).otherwise(z)
    df = add(df, **{tmp("face"): F.when(comp < 0, f0 + 3).otherwise(f0).cast("long")})
    face = c(tmp("face"))
    # u,v per face (published mapping, same branch table as _xyz_to_face_uv)
    u = (
        F.when(face == 0, y / x)
        .when(face == 1, -x / y)
        .when(face == 2, -x / z)
        .when(face == 3, z / x)
        .when(face == 4, z / y)
        .otherwise(-y / z)
    )
    v = (
        F.when(face == 0, z / x)
        .when(face == 1, z / y)
        .when(face == 2, -y / z)
        .when(face == 3, y / x)
        .when(face == 4, -x / y)
        .otherwise(-x / z)
    )

    def st(w):  # quadratic projection, branches unevaluated when unchosen
        return F.when(
            w >= 0, 0.5 * F.sqrt(1 + 3 * w)
        ).otherwise(1 - 0.5 * F.sqrt(1 - 3 * w))

    def ij(w):
        r = F.floor(w * F.lit(float(1 << MAX_LEVEL)))
        return F.greatest(F.lit(0).cast("long"), F.least(r, F.lit((1 << MAX_LEVEL) - 1)))

    df = add(df, **{tmp("i"): ij(st(u)), tmp("j"): ij(st(v))})

    # table-driven Hilbert encode: one aggregate() expression threading
    # (n, bits) through 8 sweeps of 4 ij-bits each (see docstring)
    table_sql = (
        "cast(array(" + ",".join(str(int(vv)) for vv in _LOOKUP_POS) + ") as array<bigint>)"
    )
    fc, ic, jc = tmp("face"), tmp("i"), tmp("j")
    mask = (1 << _LOOKUP_BITS) - 1
    idx_sql = (
        f"cast(acc.b + shiftleft(shiftright({ic}, k * {_LOOKUP_BITS}) & {mask}, "
        f"{_LOOKUP_BITS + 2}) + shiftleft(shiftright({jc}, k * {_LOOKUP_BITS}) & {mask}, 2) "
        f"+ 1 as int)"
    )
    lk_sql = f"element_at({table_sql}, {idx_sql})"
    agg_sql = (
        f"aggregate(sequence(7, 0, -1), "
        f"struct(shiftleft({fc}, 60) as n, {fc} & cast(1 as bigint) as b), "
        f"(acc, k) -> struct("
        f"acc.n | shiftleft(shiftright({lk_sql}, 2), k * {2 * _LOOKUP_BITS}) as n, "
        f"{lk_sql} & cast({_SWAP_MASK | _INVERT_MASK} as bigint) as b))"
    )
    lsb = 1 << (2 * (MAX_LEVEL - level))
    snapped_sql = (
        f"((shiftleft(({agg_sql}).n, 1) | cast(1 as bigint)) "
        f"& cast({-lsb} as bigint)) | cast({lsb} as bigint)"
    )
    return df.withColumn(out, F.expr(snapped_sql)).drop(*sorted(set(scratch)))


def s2_parent(cell: Column, level: int) -> Column:
    """Coarser-level ancestor — native bit arithmetic, no UDF.

    Works on the signed-int64 reinterpretation because two's-complement
    AND/OR equal the uint64 bit ops.
    """
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))
