"""Z-order (Morton) interleaving for multi-dimensional file clustering.

Parquet min/max pruning only skips row groups for predicates on columns
the file layout actually clusters. A single-column sort clusters ONE
dimension; every other column's per-file range stays ~the full domain,
so a filter on it reads everything. Interleaving the bits of N columns
into one sort key (the Morton / Z-order curve) gives every interleaved
column locality: a file covering a contiguous z-range covers a small
hyper-rectangle of the original space, so min/max stats prune on ANY of
the clustered dimensions. This is the same layout trick Delta/Iceberg
`OPTIMIZE ZORDER BY` applies, built here from native column expressions
(shift/and/or — fully inside whole-stage codegen, no UDF).

At 100 TB the pattern is: normalize each clustering column to a
`bits`-wide integer rank, compute the z-value, `repartitionByRange` on
it (range partitioner ⇒ contiguous z-ranges per output file), sort
within partitions, write. Query side needs nothing — plain min/max
pruning does the skipping.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: Sequence[Column], bits: int = 16) -> Column:
    """Interleave the low `bits` bits of each column (MSB-first round
    robin) into one long. Inputs must already be non-negative integer
    ranks < 2**bits (see `normalize_rank`). len(cols) * bits must fit a
    long (<= 63)."""
    cols = list(cols)
    if not cols:
        raise ValueError("zvalue needs at least one column")
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a long")
    z = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for c in cols:
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = F.shiftleft(z, 1).bitwiseOR(bit)
    return z


def normalize_rank(c: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Scale a numeric column with known [lo, hi] bounds to an integer
    rank in [0, 2**bits). Bounds come from table stats (one cheap agg or
    catalog metadata) — passing them in keeps this a pure expression."""
    span = float(hi) - float(lo)
    if span <= 0:
        return F.lit(0).cast("long")
    maxv = (1 << bits) - 1
    scaled = ((c.cast("double") - float(lo)) / span) * maxv
    return F.least(F.greatest(F.round(scaled).cast("long"), F.lit(0)), F.lit(maxv))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bounds: dict[str, tuple[float, float]],
    bits: int = 16,
) -> None:
    """Write `df` as parquet in 8 files clustered on the z-order of `cols`.

    `bounds[col] = (lo, hi)` for each clustering column (from stats).
    repartitionByRange on the z-value gives each output file a contiguous
    z-range (a small hyper-rectangle), sortWithinPartitions tightens
    row-group stats inside each file."""
    ranks = [
        normalize_rank(F.col(c), *bounds[c], bits=bits) for c in cols
    ]
    staged = df.withColumn("__z", zvalue(ranks, bits=bits))
    (
        staged.repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
