"""DuckDB-SQL implementation of the S2 encode — the independent oracle.

The driver's correctness gate runs each Spark query side-by-side with an
ANSI-SQL oracle in DuckDB.  Cell-id queries therefore need the FULL
lat/lng -> Hilbert-cell-id encode expressed in portable SQL.  This module
generates it: chained CTEs mirroring the encode pipeline
(xyz -> face -> uv -> st -> ij -> 8 unrolled LUT rounds), with the
1024-entry Hilbert table embedded as a list literal.

This is a third, independent implementation of the same public S2
semantics (after the numpy kernel and the Spark Column expressions), so a
value-hash match across engines is strong evidence of correctness.

Numeric parity notes:
* round-half-even: DuckDB round_even == numpy rint == C# Math.Round.
* bit ops / shifts on BIGINT are two's complement in both engines.
* biased id = raw - 2^63 computed as (n - 2^62)*2 + 1 to avoid overflow.
"""

from __future__ import annotations

from ..kernel.hilbert import LOOKUP_POS

MAX_SIZE = 1 << 30
_M = MAX_SIZE // 2

_LUT_SQL = "[" + ",".join(str(int(v)) for v in LOOKUP_POS) + "]"


def _hilbert_round_ctes() -> str:
    """r7..r0 CTEs consuming 4 bits of i and j per round."""
    parts = []
    prev = "ij"
    for k in range(7, -1, -1):
        name = f"r{k}"
        parts.append(
            f"{name}_pre AS (SELECT {prev}.*, "
            f"(bits + (((i >> {4 * k}) & 15) << 6) + (((j >> {4 * k}) & 15) << 2)) AS bidx "
            f"FROM {prev}), "
            f"{name} AS (SELECT * EXCLUDE (bidx) REPLACE ("
            f"(n | ((lut.l[bidx + 1]::BIGINT >> 2) << {8 * k})) AS n, "
            f"(lut.l[bidx + 1]::BIGINT & 3) AS bits) "
            f"FROM {name}_pre, lut)"
        )
        prev = name
    return ", ".join(parts)


# S2LatLng.IsValid, as the engine's encode applies it.  Only valid rows
# reach the trig (DuckDB raises OutOfRangeException on sin/cos of an
# infinite value); an invalid row carries nulls through the BIGINT casts
# and gets a null cell_id, as in the engine.
_VALID = "abs(lat) <= 90 AND abs(lng) <= 180"

# A reusable CTE chain. Usage:
#   WITH src AS (<anything producing ... , lat DOUBLE, lng DOUBLE>),
#   {CELL_ID_FROM_LATLNG_CTES}
#   SELECT <keys>, cell_id FROM encoded
CELL_ID_FROM_LATLNG_CTES = f"""
lut AS (SELECT {_LUT_SQL} AS l),
xyz AS (SELECT src.*,
        CASE WHEN {_VALID} THEN cos(radians(lng)) * cos(radians(lat)) END AS px,
        CASE WHEN {_VALID} THEN sin(radians(lng)) * cos(radians(lat)) END AS py,
        CASE WHEN {_VALID} THEN sin(radians(lat)) END AS pz
        FROM src),
fc AS (SELECT xyz.*,
       CASE WHEN abs(px) > abs(py) AND abs(px) > abs(pz) THEN 0
            WHEN abs(py) > abs(pz) THEN 1 ELSE 2 END AS axis0
       FROM xyz),
fc2 AS (SELECT fc.*,
        CASE WHEN (CASE axis0 WHEN 0 THEN px WHEN 1 THEN py ELSE pz END) < 0
             THEN axis0 + 3 ELSE axis0 END AS face
        FROM fc),
uv AS (SELECT fc2.*,
       CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz
                 WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS uu,
       CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz
                 WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS vv
       FROM fc2),
ij AS (SELECT uv.*,
       CAST(least(greatest(round_even({_M}.0 * (CASE WHEN uu >= 0 THEN sqrt(1+3*uu)-1 ELSE 1-sqrt(1-3*uu) END) + {_M - 0.5}, 0), 0), {2 * _M - 1}) AS BIGINT) AS i,
       CAST(least(greatest(round_even({_M}.0 * (CASE WHEN vv >= 0 THEN sqrt(1+3*vv)-1 ELSE 1-sqrt(1-3*vv) END) + {_M - 0.5}, 0), 0), {2 * _M - 1}) AS BIGINT) AS j,
       (face::BIGINT & 1) AS bits,
       (face::BIGINT << 60) AS n
       FROM uv),
{_hilbert_round_ctes()},
encoded AS (SELECT r0.*, CASE WHEN {_VALID}
             THEN ((n - {1 << 62}) * 2 + 1) END AS cell_id FROM r0)
"""


def encode_query(source_sql: str, select_sql: str) -> str:
    """Full oracle query: `source_sql` must yield lat/lng doubles (plus any
    key columns); `select_sql` is the final SELECT over the `encoded` CTE
    (which carries every src column plus cell_id)."""
    return f"WITH src AS ({source_sql}), {CELL_ID_FROM_LATLNG_CTES} {select_sql}"


def sql_parent_for_level(expr: str, level: int) -> str:
    """Ancestor at level (bit math valid on biased ids)."""
    lsb = 1 << (2 * (30 - level))
    return f"(({expr}) & {-lsb} | {lsb})"


# ---------------------------------------------------------------------------
# Dialect-parity helpers — the known Spark/DuckDB divergence classes.
#
# The driver's correctness gate stringifies both result sets (via pandas)
# and hashes them, so a value that is numerically equal but STRINGIFIES
# differently is a hash mismatch.  Three classes have bitten in past
# rounds; every new oracle should route through these helpers instead of
# re-deriving the workarounds:
#
# 1. HUGEINT aggregates.  DuckDB's sum() over any integer type returns
#    HUGEINT (int128).  pandas has no int128, so the column arrives as
#    float64/object and stringifies as '1.23e+08' while Spark's BIGINT
#    prints '123000000' — hash mismatch with identical values (the round-2
#    text_domain_stats artifact).  -> sum_bigint().  count(*) and len()
#    already return BIGINT and are safe.
# 2. Float formatting.  Spark and DuckDB print different digit counts for
#    the same double; any float output column must be rounded to a fixed
#    number of decimals ON BOTH SIDES (Spark F.round(col, n) <-> round_d).
#    Integer division differs too: DuckDB `/` on integers yields double,
#    Spark yields... also double (ANSI off) — but guard denominators with
#    greatest(den, 1) so 0-denominators agree -> ratio().
# 3. Regexp dialect.  DuckDB uses RE2: no backreferences, no lookaround,
#    and '' quoting inside SQL strings.  Keep patterns RE2-portable (the
#    Spark side is java.util.regex, a superset) and escape via
#    escape_re_sql() rather than ad-hoc .replace().
#
# Deterministic hashing: Spark xxhash64 has no DuckDB twin, so oracle-side
# deterministic "hashes" derive from md5 hex -> BIGINT (md5_long). Spark
# queries that must match use the same md5-prefix construction, not
# xxhash64.
# ---------------------------------------------------------------------------


def sum_bigint(expr: str) -> str:
    """SUM(...) cast to BIGINT (divergence class 1: HUGEINT)."""
    return f"sum({expr})::BIGINT"


def round_d(expr: str, nd: int = 6) -> str:
    """Fixed-decimal rounding for float output columns (class 2)."""
    return f"round({expr}, {nd})"


def ratio(num: str, den: str) -> str:
    """round(num / max(den,1), 6) — zero-safe ratio, rounded (class 2)."""
    return f"round(({num}) / greatest({den}, 1), 6)"


def md5_long(expr: str, hex_digits: int = 15) -> str:
    """Deterministic BIGINT from an md5 hex prefix (<=15 digits stays
    within signed-64 positive range; both engines build the same value
    from the same md5 string)."""
    return f"('0x' || substr(md5({expr}), 1, {hex_digits}))::BIGINT"


def escape_re_sql(pattern: str) -> str:
    """Escape a (RE2-portable) regex for embedding in a DuckDB SQL string
    literal (class 3)."""
    return pattern.replace("'", "''")


def sql_cell_token(expr: str) -> str:
    """Biased id -> reference hex token ('X' for 0-raw)."""
    raw = f"xor(({expr})::BIGINT, (-9223372036854775807 - 1)::BIGINT)"
    return (f"(CASE WHEN rtrim(printf('%016x', {raw}), '0') = '' THEN 'X' "
            f"ELSE rtrim(printf('%016x', {raw}), '0') END)")
