"""Skew mitigation: key salting (SURVEY.md §4 / driver brief "salting for
skew").

AQE's skew-join handling (on in session.py) covers sort-merge joins by
splitting oversized partitions at runtime. Salting is the complementary
STATIC remedy for a case AQE can't fix: a broadcast-ineligible join
against a replicable side. ``salted_join`` is semantics-preserving —
results are identical to the unsalted plan, only the shuffle distribution
changes — which is exactly what makes it oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Salt buckets: a hot fact key spreads over this many reducers, and the
#: dim side is replicated this many times.
SALT_BUCKETS = 8


def with_salt(df: DataFrame) -> DataFrame:
    """Deterministic per-row salt in [0, SALT_BUCKETS): derived from the
    whole row's hash, not rand() (reproducible at any parallelism)."""
    return df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(SALT_BUCKETS)),
    )


def salted_join(fact: DataFrame, dim: DataFrame, on: Sequence[str]) -> DataFrame:
    """Skew-proof inner equi-join: the fact side gets a row-hash salt, the dim
    side is REPLICATED ``SALT_BUCKETS`` times (explode of the salt range), and
    the join key becomes (key, salt) — a hot fact key now lands on
    ``SALT_BUCKETS`` different reducers instead of one.

    Result is exactly the unsalted inner join (a right/full-outer join
    would not be: an unmatched dim row exists ``SALT_BUCKETS`` times after
    replication and would be emitted once per copy). Replication multiplies the dim shuffle volume by ``SALT_BUCKETS``: use for
    moderate dims that are too big to broadcast but far smaller than the
    fact side.
    """
    keys = list(on)
    salted_fact = with_salt(fact)
    replicated = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = salted_fact.join(replicated, [*keys, "__salt"])
    return out.drop("__salt")
