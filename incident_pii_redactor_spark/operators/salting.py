"""Skew-aware repartitioning for host/domain-skewed web corpora.

Common-Crawl host distributions are Zipf: a handful of hosts contribute a
large share of pages. Any stage keyed on host (metrics rollups, per-host
dedup) would put those hosts' rows in one task. The north rule requires
explicit handling: we salt the partitioning key with a deterministic
``pmod(xxhash64(key, salt), n_salts)`` term so hot keys spread over
``n_salts`` tasks; AQE skew-join stays on as the backstop
(SURVEY.md §4.2).

For the scrub stage itself (embarrassingly parallel) the goal is only
even task sizing, which ``repartition`` on the salted key provides when
input files are themselves skewed (one giant WARC vs many small ones).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_key(key: Column, n_salts: int, seed: int = 42) -> Column:
    """Deterministic salt bucket in [0, n_salts) derived from the key itself
    plus a seed — reproducible across runs AND cluster sizes (unlike
    ``rand()``-based salting, which would break byte-identical resume)."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(n_salts)).cast("int")


def salted_repartition(
    df: DataFrame,
    key_col: str,
    num_partitions: int,
    n_salts: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Repartition on (key, salt) so a hot key spans up to ``n_salts`` tasks."""
    return df.repartition(
        num_partitions, F.col(key_col), salted_key(F.col(key_col), n_salts, seed)
    )
