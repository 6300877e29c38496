"""Cell unions: sorted, normalized sets of cell ids.

Per-region unions are small (<= tens of cells from the coverer), so these
run as plain Python/numpy over uint64 arrays; the distributed engine
explodes unions into one-row-per-cell tables for joins and uses
`repartitionByRange(cell_id)` + window-free scans for global tile sets.

Conforms to /root/reference/S2Geometry/S2CellUnion.cs.
"""

from __future__ import annotations

import numpy as np

from . import cellid as ci

_U = np.uint64


def normalize(ids) -> np.ndarray:
    """Sort, drop contained cells, collapse 4 siblings into their parent
    (S2CellUnion.cs:691-757). Returns a new uint64 array."""
    ids = np.sort(np.asarray(ids, dtype=np.uint64))
    out: list[int] = []

    def contains(a: int, b: int) -> bool:
        lsb = a & -a & 0xFFFFFFFFFFFFFFFF
        return a - (lsb - 1) <= b <= a + (lsb - 1)

    for raw in ids.tolist():
        cur = int(raw)
        if out and contains(out[-1], cur):
            continue
        while out and contains(cur, out[-1]):
            out.pop()
        while len(out) >= 3:
            if (out[-3] ^ out[-2] ^ out[-1]) != cur:
                break
            lsb = int(ci.lowest_on_bit(np.array([cur], dtype=np.uint64))[0])
            mask = lsb << 1
            mask = ~(mask + (mask << 1)) & 0xFFFFFFFFFFFFFFFF
            masked = cur & mask
            is_face = (cur & (int(ci.lowest_on_bit_for_level(0)) - 1)) == 0
            if ((out[-3] & mask) != masked or (out[-2] & mask) != masked
                    or (out[-1] & mask) != masked or is_face):
                break
            out.pop(); out.pop(); out.pop()
            # parent: (id & -newLsb) | newLsb with newLsb = lsb << 2
            new_lsb = lsb << 2
            cur = ((cur & (-new_lsb & 0xFFFFFFFFFFFFFFFF)) | new_lsb) & 0xFFFFFFFFFFFFFFFF
        out.append(cur)
    return np.array(out, dtype=np.uint64)


def denormalize(ids, min_level: int, level_mod: int) -> np.ndarray:
    """Re-expand so every cell level satisfies min_level/level_mod
    (S2CellUnion.cs:299-329)."""
    ids = np.asarray(ids, dtype=np.uint64)
    if len(ids) == 0:
        return ids
    levels = ci.level_of(ids)
    out: list[int] = []
    for raw, level in zip(ids.tolist(), levels.tolist()):
        new_level = max(min_level, level)
        if level_mod > 1:
            new_level += (ci.MAX_LEVEL - (new_level - min_level)) % level_mod
            new_level = min(ci.MAX_LEVEL, new_level)
        if new_level == level:
            out.append(raw)
        else:
            arr = np.array([raw], dtype=np.uint64)
            begin = int(ci.child_begin_for_level(arr, new_level)[0])
            end = int(ci.child_end_for_level(arr, new_level)[0])
            step = 2 * int(ci.lowest_on_bit_for_level(new_level))
            out.extend(range(begin, end, step))
    return np.array(out, dtype=np.uint64)


def union(a, b) -> np.ndarray:
    return normalize(np.concatenate([np.asarray(a, dtype=np.uint64),
                                     np.asarray(b, dtype=np.uint64)]))


def intersection(a, b) -> np.ndarray:
    """Intersection of two normalized unions via two-pointer range merge
    (S2CellUnion.cs:479-546)."""
    a = np.sort(np.asarray(a, dtype=np.uint64))
    b = np.sort(np.asarray(b, dtype=np.uint64))
    out: list[int] = []
    i = j = 0
    amin = ci.range_min(a); amax = ci.range_max(a)
    bmin = ci.range_min(b); bmax = ci.range_max(b)
    while i < len(a) and j < len(b):
        if amin[i] > bmax[j]:
            j += 1
        elif bmin[j] > amax[i]:
            i += 1
        elif amin[i] >= bmin[j] and amax[i] <= bmax[j]:
            out.append(int(a[i])); i += 1
        elif bmin[j] >= amin[i] and bmax[j] <= amax[i]:
            out.append(int(b[j])); j += 1
        else:
            # ranges overlap without containment cannot happen for valid cells
            if amax[i] < bmax[j]:
                i += 1
            else:
                j += 1
    return np.array(out, dtype=np.uint64)


def difference(a, b) -> np.ndarray:
    """Cells covering (union a) minus (union b): each a-cell disjoint from b
    passes through; contained cells drop; straddlers recurse into children
    (the S2 GetDifference recursion).  Inputs must be normalized."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.sort(np.asarray(b, dtype=np.uint64))
    if len(b) == 0:
        return a.copy()
    bmin = ci.range_min(b)
    bmax = ci.range_max(b)
    out: list[int] = []

    def emit(cell: int) -> None:
        arr = np.array([cell], dtype=np.uint64)
        lo = ci.range_min(arr)[0]
        hi = ci.range_max(arr)[0]
        overlap = (bmin <= hi) & (bmax >= lo)
        if not np.any(overlap):
            out.append(cell)
            return
        # fully covered by a single b cell?
        if np.any((bmin <= lo) & (bmax >= hi)):
            return
        for ch in ci.children(arr)[0]:
            emit(int(ch))

    for cell in a.tolist():
        emit(int(cell))
    return normalize(np.array(out, dtype=np.uint64))


def contains_id(ids, query) -> np.ndarray:
    """Vectorized membership: does the normalized union contain each query
    cell? Binary search over sorted ids (S2CellUnion.cs:350-395)."""
    ids = np.sort(np.asarray(ids, dtype=np.uint64))
    query = np.asarray(query, dtype=np.uint64)
    if len(ids) == 0:
        return np.zeros(query.shape, dtype=bool)
    # candidate = first union cell with id >= query's range_min... simpler:
    # a union contains q iff some cell c has range_min(c) <= q <= range_max(c).
    # Since the union is normalized (disjoint, sorted), the only candidate is
    # the predecessor of q among range_min values.
    rmin = ci.range_min(ids)
    rmax = ci.range_max(ids)
    pos = np.searchsorted(rmin, query, side="right") - 1
    ok = pos >= 0
    pos = np.maximum(pos, 0)
    return ok & (query <= rmax[pos])


def expand_level(ids, level: int) -> np.ndarray:
    """Buffer by adding all neighbors at the given level (S2CellUnion.cs:595-622)."""
    ids = np.asarray(ids, dtype=np.uint64)
    if len(ids) == 0:
        return ids
    level_lsb = int(ci.lowest_on_bit_for_level(level))
    out: list[int] = []
    i = len(ids) - 1
    while i >= 0:
        cur = int(ids[i])
        arr = np.array([cur], dtype=np.uint64)
        if int(ci.lowest_on_bit(arr)[0]) < level_lsb:
            cur = int(ci.parent_for_level(arr, level)[0])
            arr = np.array([cur], dtype=np.uint64)
            while i > 0 and bool(ci.contains(arr, np.array([ids[i - 1]], dtype=np.uint64))[0]):
                i -= 1
        out.append(cur)
        lvl = int(ci.level_of(np.array([cur], dtype=np.uint64))[0])
        nbrs, valid = ci.get_all_neighbors(np.array([cur], dtype=np.uint64),
                                           np.array([max(lvl, level)], dtype=np.int64))
        out.extend(int(v) for v in nbrs[0][valid[0]])
        i -= 1
    return normalize(np.array(out, dtype=np.uint64))


def expand_radius(ids, min_radius_rad: float, max_level_diff: int) -> np.ndarray:
    """Buffer the union so it contains every point within min_radius_rad,
    without using cells more than max_level_diff levels finer than the
    largest input cell (S2CellUnion.cs:618-650, Expand(S1Angle, int))."""
    from . import metrics
    ids = np.asarray(ids, dtype=np.uint64)
    if len(ids) == 0:
        return ids
    min_level = int(ci.level_of(ids).min())
    # max level at which every cell is at least min_radius wide
    radius_level = metrics.MIN_WIDTH.get_max_level(min_radius_rad)
    if radius_level == 0 and min_radius_rad > metrics.MIN_WIDTH.get_value(0):
        # expansion wider than a face cell: expand twice at level 0
        ids = expand_level(ids, 0)
    return expand_level(ids, min(min_level + max_level_diff, radius_level))


def approx_area(ids) -> float:
    """Sum of per-cell ApproxArea (S2CellUnion.cs:82-93)."""
    from .cell import Cell
    return sum(Cell(int(c)).approx_area() for c in np.asarray(ids, dtype=np.uint64))


def exact_area(ids) -> float:
    """Sum of per-cell ExactArea (S2CellUnion.cs:101-113)."""
    from .cell import Cell
    return sum(Cell(int(c)).exact_area() for c in np.asarray(ids, dtype=np.uint64))


def leaf_cells_covered(ids) -> int:
    """Sum of 4^(30-level) over cells (S2CellUnion.cs:41-56)."""
    ids = np.asarray(ids, dtype=np.uint64)
    if len(ids) == 0:
        return 0
    # a cell at level k has lsb = 4^(30-k) = its own leaf count
    lsb = ci.lowest_on_bit(ids)
    return sum(int(v) for v in lsb)


def average_based_area(ids) -> float:
    """AvgArea(30) * leaf count (S2CellUnion.cs:61-70)."""
    from . import metrics
    return metrics.AVG_AREA.get_value(ci.MAX_LEVEL) * leaf_cells_covered(ids)
