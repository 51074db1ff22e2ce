"""Skew-resilient equi-join (salting) — the manual counterpart to AQE's
skew-join splitting, for when the skew is known ahead of time.

A hot join key (one location with millions of fact rows, one boilerplate
document class) funnels its entire partition through a single reducer.
Salting restores parallelism deterministically:

- LARGE side: append `salt = uniform_hash(row_discriminator) % S`,
  spreading each hot key's rows over S sub-keys.
- SMALL side: replicate every row S times (explode over [0, S)).
- Join on (key, salt); drop the salt.

Results are identical to the plain join (each large row meets each
matching small row exactly once — the small side's replica for that
row's salt). Cost: the small side grows S× — acceptable precisely when
the small side is small, which is the only case where salting beats
letting AQE split the skewed partition at runtime.

The salt comes from a deterministic hash of a caller-named discriminator
column (a unique or near-unique id), never rand(): retried/speculative
tasks must salt identically or the join silently duplicates/drops rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash32

# S, the number of sub-keys each hot key spreads over
NUM_SALTS = 8


def salted_join(
    large: DataFrame, small: DataFrame, on: str, salt_from: Column
) -> DataFrame:
    """Inner equi-join `large ⋈ small` on column `on`, salted NUM_SALTS ways.
    `salt_from` is a deterministic per-row discriminator on the large side
    (e.g. the row's unique id) used to derive its salt bucket."""
    salted_large = large.withColumn(
        "__salt", (hash32(salt_from.cast("string")) % NUM_SALTS).cast("int")
    )
    replicated_small = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(NUM_SALTS - 1))),
    )
    return salted_large.join(replicated_small, [on, "__salt"], "inner").drop("__salt")
