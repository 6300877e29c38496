"""The covering cache: a bounded, in-process memo for covering computations.

A covering is a pure function of (region geometry, coverer parameters) —
an index-build artifact, not data — so recomputing it on every query
construction is wasted serial driver time (an Amdahl term: it never
parallelizes).  Every covering operator goes through `cached_rows`:
polygon skin coverings, rects, caps, polylines and radius-expanded
unions.

The memo key IS the caller's key tuple, and that tuple holds every coverer
input that varies (vertex bytes per loop, loop depths, radius, the cap/rect
spec, the track; each operator's coverer settings are module constants).
Tuples compare element by element, so two different regions can never
share an entry the way two byte strings joined into one digest can.

There is no disk tier.  A persisted covering outlives the code that
computed it and is shared with other processes, so it would need a
code-version key to never serve a stale answer; and no measured workload
reads one (the benchmark clears every covering cache before a run, and
only repeats within a run hit).

The memo holds at most MAX_ENTRIES coverings; a new entry past the cap
evicts the oldest one.
"""

from __future__ import annotations

MAX_ENTRIES = 1024

# Mutated in place, never rebound: spatial_join aliases it and callers
# clear it to force cold coverings.
_MEMO: dict = {}


def cached_rows(key, compute):
    """Rows for `key` (a hashable tuple of every coverer input), from the
    memo or from `compute()` (an iterable of rows).  Rows come back as
    lists."""
    rows = _MEMO.get(key)
    if rows is None:
        rows = [list(r) for r in compute()]
        if len(_MEMO) >= MAX_ENTRIES:
            del _MEMO[next(iter(_MEMO))]
        _MEMO[key] = rows
    return rows
