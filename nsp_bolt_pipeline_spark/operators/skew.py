"""Skew-resistant aggregation (scale technique, SURVEY.md §7).

A hash aggregate on a skewed key (a handful of event types over
billions of rows, one viral trip id, one dominant language) funnels
the hot key's entire volume through a single reducer. AQE's skew-join
splitting covers joins; for *aggregations* the classic fix is salting:

    phase 1: groupBy(key, salt) — the hot key fans out over
             ``salt_buckets`` reducers, each combining its shard;
    phase 2: groupBy(key) over the per-salt partials — at most
             ``salt_buckets`` rows per key, trivially cheap.

Every algebraic measure (sum, count, min, max) re-combines exactly,
and avg = recombined sum / recombined count, so the result is
*identical* to the direct aggregate — the oracle enforces that, not
just row counts. The salt is derived from a uniform hash of the full
row (not random), keeping runs deterministic.

Note Spark's partial (map-side) aggregation already handles skew when
partitions are key-diverse; salting matters when a single key's volume
exceeds what one final reducer should hold — size ``salt_buckets`` to
hot-key volume / target-partition size.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: measure name -> (phase-1 partial over raw col, phase-2 recombine)
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def _salt_of(cols: Sequence[str], buckets: int) -> Column:
    """Uniform salt in [0, buckets): pmod, not abs(x) % n —
    abs(Long.MIN_VALUE) overflows back to negative and % keeps the
    dividend's sign, which would yield a salt outside the bucket
    range (see salted_join's replication contract). One definition
    for both the salted aggregate and the salted join."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in cols]), F.lit(buckets)
    ).cast("bigint")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
    *,
    salt_buckets: int = 32,
    salt_from: Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``measures`` maps output column -> (op, input column) with op in
    {sum, count, min, max, avg}. ``salt_from`` columns feed the salt
    hash (default: all non-key columns; when the keys cover every
    column the key columns themselves are hashed — an empty xxhash64
    fails analysis), spreading the hot key uniformly.
    """
    salt_cols = list(salt_from or [c for c in df.columns if c not in keys])
    if not salt_cols:
        salt_cols = list(keys)
    salt = _salt_of(salt_cols, salt_buckets).alias("_salt")

    partials: list[Column] = []
    finals: list[Column] = []
    for out, (op, col) in measures.items():
        if op == "avg":
            partials += [
                F.sum(col).alias(f"_{out}_sum"),
                F.count(col).alias(f"_{out}_cnt"),
            ]
            finals.append(
                (F.sum(f"_{out}_sum") / F.sum(f"_{out}_cnt")).alias(out)
            )
            continue
        partial_fn, final_fn = _ALGEBRAIC[op]
        partials.append(partial_fn(col).alias(f"_{out}_p"))
        finals.append(final_fn(f"_{out}_p").alias(out))

    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*partials)
    return phase1.groupBy(*keys).agg(*finals)


def distinct_count(
    df: DataFrame, keys: Sequence[str], col: str, *, out: str = "n_distinct"
) -> DataFrame:
    """Exact distinct count per key — expands to a two-phase plan
    (dedup shuffle on (keys, col), then count) in Spark; the verifiable
    baseline for the approximate variant."""
    return df.groupBy(*keys).agg(F.count_distinct(F.col(col)).alias(out))


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    *,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skewed-key equi-join by salting: the skewed side gets a
    deterministic salt in [0, salt_buckets), the small side is
    replicated once per salt value, and the join runs on
    (key, salt) — the hot key's rows spread over ``salt_buckets``
    tasks instead of one straggler.

    Result is row-identical to ``skewed.join(small, key, how)``: the
    salt only splits the build of each key's output across tasks
    (supported: inner / left). Use when AQE's skew-join splitting is
    unavailable (it cannot split the *build* side of a broadcast, or
    a non-AQE engine); replication multiplies the small side
    ``salt_buckets``x, so size it small-side-bytes x buckets << 
    executor memory.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    s = skewed.withColumn(
        "_salt", _salt_of(list(skewed.columns), salt_buckets)
    )
    exploded = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    return s.join(exploded, [key, "_salt"], how).drop("_salt")


def key_skew_profile(
    df: DataFrame,
    *,
    key: str,
    top_n: int = 20,
) -> DataFrame:
    """Heavy-hitter diagnostic for a join/group key: the ``top_n``
    hottest key values with row counts, share of the table, and the
    ratio to a perfectly uniform key (share * n_distinct) — the number
    you read before choosing salting (operators.skew.salted_agg /
    salted_join) or AQE skew-join. One groupBy shuffle (map-side
    partial agg), then two single-row broadcast joins for the
    denominators; the top-k is a TakeOrderedAndProject, never a global
    sort."""
    counts = df.groupBy(key).agg(F.count("*").alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count("*").alias("_n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            key,
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
            (
                F.col("n_rows") * F.col("_n_keys") / F.col("_total")
            ).alias("skew_ratio"),
        )
        .orderBy(F.col("n_rows").desc(), F.col(key).asc())
        .limit(top_n)
    )
