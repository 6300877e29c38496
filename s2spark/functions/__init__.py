"""Spark-facing S2 functions: pure JVM Column expressions."""

from .columns import (  # noqa: F401
    cell_contains,
    cell_intersects,
    cell_level,
    cell_token,
    child_begin_for_level,
    child_end_for_level,
    lowest_on_bit,
    parent_for_level,
    range_max,
    range_min,
    with_cell_id,
)
