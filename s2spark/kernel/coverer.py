"""S2 region coverer: approximate any region by <= max_cells cells.

Best-first subdivision driven by a max-heap prioritizing the largest,
least-intersecting cells, with the absorb-parent optimization; conforms to
/root/reference/S2Geometry/S2RegionCoverer.cs:215-533.

Per-region covering is inherently sequential (a tiny priority-queue loop);
the engine parallelizes ACROSS regions via ``applyInPandas`` (one group =
one polygon), never inside one covering — coverings are <= tens of cells.

The region duck-type contract (IS2Region, IS2Region.cs:17-32):
  cap_bound() -> Cap, rect_bound() -> LatLngRect,
  contains_cell(Cell) -> bool, may_intersect_cell(Cell) -> bool.
"""

from __future__ import annotations

import heapq
import itertools

import numpy as np

from . import cellid as ci
from . import metrics
from .cell import Cell
from .cellunion import denormalize, normalize

DEFAULT_MAX_CELLS = 8  # S2RegionCoverer.cs:50

_FACE_CELL_IDS = [int(ci.from_face_pos_level(np.array([f]), np.array([0]), 0)[0])
                  for f in range(6)]


class _Candidate:
    """A queued cell: its id and level only.  A Cell (face/ij decode plus
    uv bounds) is built only where a region lacks relate_cells."""
    __slots__ = ("id", "level", "is_terminal", "children")

    def __init__(self, cid: int, level: int, is_terminal: bool):
        self.id = cid
        self.level = level
        self.is_terminal = is_terminal
        self.children: list["_Candidate"] = []


class RegionCoverer:
    def __init__(self, min_level: int = 0, max_level: int = ci.MAX_LEVEL,
                 level_mod: int = 1, max_cells: int = DEFAULT_MAX_CELLS,
                 interior_pop_budget: int | None = None):
        self.min_level = max(0, min(ci.MAX_LEVEL, min_level))
        self.max_level = max(0, min(ci.MAX_LEVEL, max_level))
        self.level_mod = max(1, min(3, level_mod))
        self.max_cells = max_cells
        # INTERIOR coverings only: bound on priority-queue pops.  The
        # reference's loop (GetCoveringInternal, S2RegionCoverer.cs:505-529)
        # expands single-child candidates unconditionally, and near polygon
        # vertices those chains are barren — they refine to max_level (30)
        # without ever yielding a contained cell.  Once the result is
        # within a few cells of max_cells, the frontier can degenerate to
        # such chains and the loop grinds through O(boundary cells at
        # level 30) region predicates before terminating (hours in the
        # reference's native code, days in Python).  Any subset of
        # contained cells is a VALID interior covering (callers use it as
        # a fast-accept; the skin refine handles the rest), so a
        # deterministic work budget only trades a few interior cells for
        # bounded construction time.  Calibration: random caps at
        # max_cells=8 need <= 546 pops; the largest driver join polygon at
        # max_cells=64 needs 16,713 — 512x max_cells covers both with ~2x
        # headroom (256x fell 2% short of that polygon: 16,384 < 16,713).
        # Exterior coverings are NOT budgeted (completeness is
        # their contract, and their loop charges queued candidates against
        # max_cells, so it never degenerates this way).
        self.interior_pop_budget = (512 * max_cells
                                    if interior_pop_budget is None
                                    else interior_pop_budget)
        # observability for the budget (plans/audit.py
        # interior_covering_metrics): refreshed by every interior covering
        self.last_interior_stats: dict | None = None

    # -- public API ------------------------------------------------------------

    def get_covering(self, region) -> np.ndarray:
        """Denormalized covering honoring min_level/level_mod (uint64 ids)."""
        raw = self._covering_internal(region, interior=False)
        return denormalize(normalize(raw), self.min_level, self.level_mod)

    def get_interior_covering(self, region) -> np.ndarray:
        raw = self._covering_internal(region, interior=True)
        return denormalize(normalize(raw), self.min_level, self.level_mod)

    # -- internals ---------------------------------------------------------------

    @property
    def _max_children_shift(self) -> int:
        return 2 * self.level_mod

    @staticmethod
    def _relate(region, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batched (may_intersect, contains); falls back to the per-cell
        scalar predicates for regions without relate_cells."""
        fn = getattr(region, "relate_cells", None)
        if fn is not None:
            return fn(ids)
        may = np.zeros(len(ids), dtype=bool)
        cont = np.zeros(len(ids), dtype=bool)
        for t, cid in enumerate(ids):
            cell = Cell(int(cid))
            may[t] = region.may_intersect_cell(cell)
            cont[t] = may[t] and region.contains_cell(cell)
        return may, cont

    def _new_candidate(self, cid: int, level: int, interior: bool,
                       may: bool, cont: bool):
        """Admission: MayIntersect filter; terminal if Contains or level cap
        (S2RegionCoverer.cs:302-340), from a batched relate call's
        (may, cont)."""
        if not may:
            return None
        is_terminal = False
        if level >= self.min_level:
            if interior:
                if cont:
                    is_terminal = True
                elif level + self.level_mod > self.max_level:
                    return None
            else:
                if level + self.level_mod > self.max_level or cont:
                    is_terminal = True
        return _Candidate(cid, level, is_terminal)

    def _expand_children(self, region, parents: list, interior: bool) -> list[int]:
        """Give every parent its admitted descendants num_levels below it
        (S2RegionCoverer.cs:302-340) and return each parent's count of
        terminal ones.  One batched relate call per level covers all the
        parents; relate_cells is elementwise and the frontier keeps each
        parent's cells together and in order, so the cells tested and each
        parent's children are those of one depth-first expansion per
        parent."""
        depth = np.array([1 if p.level < self.min_level else self.level_mod
                          for p in parents], dtype=np.int64)
        num_terminals = [0] * len(parents)
        ids = np.array([p.id for p in parents], dtype=np.uint64)
        owner = np.arange(len(parents))
        below = 0
        while len(ids):
            below += 1
            ids = ci.children(ids).reshape(-1)
            owner = np.repeat(owner, 4)
            may, cont = self._relate(region, ids)
            last = depth[owner] == below
            for t in np.flatnonzero(last).tolist():
                parent = parents[owner[t]]
                child = self._new_candidate(int(ids[t]), parent.level + below,
                                            interior, bool(may[t]),
                                            bool(cont[t]))
                if child is not None:
                    parent.children.append(child)
                    num_terminals[owner[t]] += child.is_terminal
            keep = may & ~last
            ids, owner = ids[keep], owner[keep]
        return num_terminals

    def _add_candidates(self, region, candidates: list, result, pq, counter,
                        interior: bool):
        """Add each candidate to the result, or expand and enqueue it, in
        order (S2RegionCoverer.cs:349-397).  All of their children are
        related at once (_expand_children)."""
        num_terminals = iter(self._expand_children(
            region, [c for c in candidates if not c.is_terminal], interior))
        shift = self._max_children_shift
        for candidate in candidates:
            if candidate.is_terminal:
                result.append(candidate.id)
                continue
            terminals = next(num_terminals)
            n_children = len(candidate.children)
            if n_children == 0:
                continue
            if (not interior and terminals == (1 << shift)
                    and candidate.level >= self.min_level):
                # absorb-parent: all children terminal -> add the parent instead
                result.append(candidate.id)
                continue
            # The reference enqueues -(((level << s) + children) << s + terminals)
            # into a MAX-heap so the largest, least-intersecting cells refine
            # first (S2RegionCoverer.cs:385-397).  heapq is a MIN-heap, so we
            # push the positive key to get the same order.
            priority = (((candidate.level << shift) + n_children) << shift) + terminals
            heapq.heappush(pq, (priority, next(counter), candidate))

    def _initial_candidates(self, region, result, pq, counter, interior: bool):
        """Seed with 4 vertex neighbors at the cap-fitting level, else the 6
        faces (S2RegionCoverer.cs:440-478)."""
        ids, level = np.array(_FACE_CELL_IDS, dtype=np.uint64), 0
        if self.max_cells >= 4:
            cap = region.cap_bound()
            fit = min(metrics.MIN_WIDTH.get_max_level(2 * cap.angle_radians),
                      min(self.max_level, ci.MAX_LEVEL - 1))
            if self.level_mod > 1 and fit > self.min_level:
                fit -= (fit - self.min_level) % self.level_mod
            if fit > 0:
                leaf = ci.from_point(np.float64(cap.axis[0]), np.float64(cap.axis[1]),
                                     np.float64(cap.axis[2]))
                nbrs, valid = ci.get_vertex_neighbors(
                    np.atleast_1d(leaf), np.array([fit], dtype=np.int64))
                ids, level = nbrs[0][valid[0]], fit
        may, cont = self._relate(region, ids)
        seeds = [self._new_candidate(cid, level, interior, m, c)
                 for cid, m, c in zip(ids.tolist(), may.tolist(), cont.tolist())]
        self._add_candidates(region, [c for c in seeds if c is not None],
                             result, pq, counter, interior)

    def _covering_internal(self, region, interior: bool) -> np.ndarray:
        """Main best-first loop (S2RegionCoverer.cs:482-533)."""
        result: list[int] = []
        pq: list = []
        counter = itertools.count()  # FIFO tiebreak for equal priorities
        self._initial_candidates(region, result, pq, counter, interior)
        pops = 0
        while pq and (not interior
                      or (len(result) < self.max_cells
                          and pops < self.interior_pop_budget)):
            _, _, candidate = heapq.heappop(pq)
            pops += 1
            if (candidate.level < self.min_level
                    or len(candidate.children) == 1
                    or len(result) + (0 if interior else len(pq)) + len(candidate.children)
                    <= self.max_cells):
                self._add_candidates(region, candidate.children, result, pq,
                                     counter, interior)
            elif not interior:
                result.append(candidate.id)
        if interior:
            # a budget exhaustion is a PERFORMANCE cliff, not a
            # correctness one: fewer interior cells -> more skin rows ->
            # more exact-kernel work downstream.  Record it so operators
            # can surface the degradation in the audit table.
            self.last_interior_stats = {
                "interior_cells": len(result),
                "max_cells": self.max_cells,
                "pops": pops,
                "pop_budget": self.interior_pop_budget,
                "budget_exhausted": bool(
                    pq and pops >= self.interior_pop_budget
                    and len(result) < self.max_cells),
            }
        return np.array(result, dtype=np.uint64)


def get_simple_covering(region, start_xyz, level: int) -> np.ndarray:
    """Fixed-level covering by BFS flood fill over edge neighbors
    (S2RegionCoverer.cs:290-294, 541-570)."""
    x, y, z = start_xyz
    seed = ci.parent_for_level(
        np.atleast_1d(ci.from_point(np.float64(x), np.float64(y), np.float64(z))),
        level)[0]
    seen = {int(seed)}
    frontier = [int(seed)]
    out = []
    while frontier:
        cur = frontier.pop()
        if not region.may_intersect_cell(Cell(cur)):
            continue
        out.append(cur)
        nbrs = ci.get_edge_neighbors(np.array([cur], dtype=np.uint64))[0]
        for nb in nbrs:
            nb = int(nb)
            if nb not in seen:
                seen.add(nb)
                frontier.append(nb)
    return np.array(sorted(out), dtype=np.uint64)
