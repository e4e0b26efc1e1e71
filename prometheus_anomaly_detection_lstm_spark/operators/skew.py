"""Skewed-key join mitigation: deterministic salting.

AQE's skew-join handling (on in session.py) splits oversized sort-merge
partitions automatically — the first line of defense.  Salting is the
MANUAL fallback for the cases AQE cannot rewrite: stateful streaming
joins, aggregations feeding a stateful operator, or engines/modes where
runtime re-planning is unavailable.

The pattern: replicate the small side once per salt bucket and split
the skewed side's hot keys across buckets with a DETERMINISTIC salt
(hash of the row's identity, not ``rand()`` — retries and replays must
route a row to the same bucket), then equi-join on (key, salt).  Result
sets are identical to the unsalted join; the hot key's rows spread over
``n_salts`` partitions instead of one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
    fact_salt_cols: list[str] | None = None,
) -> DataFrame:
    """Join ``fact`` (skewed on ``key``) to ``dim`` via salt buckets.

    ``fact_salt_cols``: columns whose hash routes a fact row to its salt
    bucket (default: all fact columns — any stable row identity works).
    ``dim`` rows are replicated ``n_salts``x (the small side by
    definition; replication is the price of spreading the hot key).
    Answer-identical to ``fact.join(dim, key, how)`` ONLY for join
    types where an unmatched dim row contributes nothing: inner, left
    (outer), and left_semi.  Right/full outer would emit each unmatched
    dim row once per salt replica, so those are rejected.
    """
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            "salted_join is answer-identical only for inner/left/"
            f"left_semi joins (dim side is replicated); got how={how!r}"
        )
    cols = fact_salt_cols or fact.columns
    salt = F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_salts))
    fact_s = fact.withColumn("__salt", salt)
    dim_s = dim.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    return fact_s.join(dim_s, [key, "__salt"], how).drop("__salt")
