"""Cross-engine float-parity helpers.

The driver hash-compares our Spark results against DuckDB. Two float
pitfalls make naive plans non-reproducible:

1. **round() is not portable.** Both engines round doubles differently when
   the value sits within a ULP of a decimal half — and money-like data
   (2-dec prices × 2-dec rates) lands on exact halves constantly. Observed:
   round(charge, 4) → 1443.3759 (Spark) vs 1443.3758 (DuckDB).
2. **Double summation order differs** (Spark partial aggregates vs DuckDB
   morsels), so sum/avg over doubles differ in the last ULPs, which any
   subsequent rounding can amplify to a visible digit.

The portable convention used by every registered query:

- Raw column values and row-level arithmetic with identical operation
  order: emit unrounded (IEEE ops are deterministic given identical
  inputs and order).
- Aggregations over doubles: cast the operand to DECIMAL(28,6) (exact,
  order-insensitive integer arithmetic), aggregate, cast the result back
  to DOUBLE. sum(DECIMAL(28,6)) widens to DECIMAL(38,6) in both engines —
  headroom for ~1e25 absolute sum, far beyond 100 TB of money columns.
- avg: exact decimal sum cast to double, divided by count (one IEEE
  division of identical operands → identical result).
- Never emit a multi-row float aggregate through round().

CAVEAT on double→decimal casts (discovered round 4, pipe_kmeans_step):
Spark converts double→decimal through the SHORTEST STRING repr
(BigDecimal.valueOf), DuckDB rounds the TRUE binary value — these
disagree whenever the shortest repr is an exact tie at the decimal grid
(string "…5" of a double sitting just below the true half). Money-like
inputs (≤2 decimal digits, exact short reprs) can never tie at scale 6,
so dsum/davg are safe there; for ARBITRARY doubles (float32 embedding
components, computed ratios) a decimal cast at any scale is a latent
1-grid-unit hazard. Portable alternative: quantize to a BINARY grid —
round(x * 2^k) as bigint (exact power-of-two multiply, half-away ties
identical on identical doubles), integer-sum, then divide by 2^k.0.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-insensitive exact sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def davg(col: Column | str) -> Column:
    """Order-insensitive average: exact decimal sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(28,6)")).cast("double") / F.count(c)


def DSUM_SQL(expr: str, scale: int = 6) -> str:
    """DuckDB twin of dsum()."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(28,{scale}))) AS DOUBLE)"


def DAVG_SQL(expr: str) -> str:
    """DuckDB twin of davg()."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE) / count({expr})"
