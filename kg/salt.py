"""Skew-handling utilities: explicit salted joins + AQE notes.

The north rule requires explicit salting on high-degree subjects. For a
dim small enough to broadcast, salting is moot (broadcast hash join never
shuffles the fact side) — kg/stages/link.py broadcasts by default. The salted
path below is for when the dictionary outgrows the broadcast threshold
(hundreds of millions of aliases at 10^12-doc scale): it spreads each hot
fact key across ``n_salts`` reducer partitions by replicating the dim side.

AQE's skew-join splitting (enabled in kg/session.py) handles residual skew
in sort-merge joins at runtime; explicit salting remains deterministic and
works for the first shuffle too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join"]


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
    entropy_col: str | None = None,
) -> DataFrame:
    """Join fact ⋈ dim on ``key`` with the dim side replicated ``n_salts``×
    and the fact side salted by a hash of ``entropy_col`` (default: a random
    but deterministic function of the key row — xxhash64 over all fact
    columns would be unstable, so callers pass a high-cardinality column,
    e.g. url).

    Equivalent to a plain equi-join on ``key`` (every fact row meets every
    dim row of its key exactly once: the dim copy carrying that row's salt).
    """
    if entropy_col is None:
        raise ValueError("salted_join needs a high-cardinality entropy_col (e.g. url)")
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(entropy_col)), F.lit(n_salts)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    salted_dim = dim.select("*", salts)
    out = salted_fact.join(salted_dim, [key, "_salt"], how)
    return out.drop("_salt")
