"""Uniqueness / primary-key checks.

Reference semantics (validator.py:431-461, ``duplicated(keep=False)``):
ALL copies of a duplicated value are violations; NULL keys are exempt.
Summary count also matches the business-rule template
COUNT(*) − COUNT(DISTINCT c) (business_rules/models.py:361-381).

Scale design:
- The summary needs no row-level shuffle at all: ``count − count_distinct``
  is a single aggregate pass (count_distinct expands to a partial
  de-duplicating hash agg).
- Violation ROWS need a per-key count. The natural plan is a hash
  aggregation on the key — a shuffle on the key. For Zipf-skewed keys
  (hot url-hosts) the straight groupBy puts a hot key on one reducer, so
  ``salted=True`` runs the canonical two-phase plan:
      phase 1: groupBy(key, salt = pmod(hash(rand-ish col), S)).count()
      phase 2: groupBy(key).sum(partial)
  Phase-1 partials spread a hot key over S reducers; phase 2 aggregates
  S tiny rows per key. AQE skew handling stays on as a backstop.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def _nonnull(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    cond = F.lit(True)
    for c in key_cols:
        cond = cond & F.col(c).isNotNull()
    return df.where(cond)


def uniqueness_summary(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One-row frame: total_keys (non-null), distinct_keys, duplicate_excess
    (= COUNT − COUNT DISTINCT, the reference's violation count)."""
    nn = _nonnull(df, key_cols)
    key = F.struct(*[F.col(c) for c in key_cols]) if len(key_cols) > 1 else F.col(key_cols[0])
    return nn.agg(
        F.count(F.lit(1)).alias("total_keys"),
        F.count_distinct(key).alias("distinct_keys"),
    ).select(
        "total_keys",
        "distinct_keys",
        (F.col("total_keys") - F.col("distinct_keys")).alias("duplicate_excess"),
    )


def duplicate_key_counts(
    df: DataFrame,
    key_cols: Sequence[str],
    salted: bool = False,
    salt_buckets: int = 64,
) -> DataFrame:
    """Keys appearing more than once, with their multiplicity.

    ``salted`` = two-phase aggregation for skewed keys (see module doc).
    Output: key columns + dup_count (long), only rows with dup_count > 1.
    """
    nn = _nonnull(df, key_cols)
    if salted:
        # Salt by a hash of the whole row's partition id + a monotonic id
        # surrogate: spark_partition_id is cheap and spreads a hot key
        # across its source partitions.
        partial = (
            nn.groupBy(*key_cols, F.pmod(F.spark_partition_id(), F.lit(salt_buckets)).alias("_salt"))
            .agg(F.count(F.lit(1)).alias("_partial"))
        )
        counts = partial.groupBy(*key_cols).agg(F.sum("_partial").alias("dup_count"))
    else:
        counts = nn.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("dup_count"))
    return counts.where(F.col("dup_count") > 1)


def duplicate_violation_rows(
    df: DataFrame,
    key_cols: Sequence[str],
    extra_cols: Sequence[str] = (),
    salted: bool = False,
    broadcast_dups: bool = True,
) -> DataFrame:
    """All copies of duplicated keys (keep=False semantics), with lineage.

    Implemented as a semi-join of the table against the duplicated-key
    set rather than a window over the full table: on a healthy PK the
    dup-key set is tiny ⇒ broadcast semi-join, so the big side is scanned
    once with NO shuffle. Pass ``broadcast_dups=False`` when duplicates
    are expected to be numerous (e.g. url dedup on raw crawl) — AQE then
    picks shuffle-hash/sort-merge and handles skew splitting.
    """
    dups = duplicate_key_counts(df, key_cols, salted=salted).select(*key_cols)
    if broadcast_dups:
        dups = F.broadcast(dups)
    sel = list(dict.fromkeys([*key_cols, *extra_cols]))
    return (
        df.select(*sel, F.spark_partition_id().alias("partition_id"))
        .join(dups, on=list(key_cols), how="left_semi")
    )


def distinct_count_by_key(
    df: DataFrame,
    key: str,
    value: str,
    salted: bool = False,
    salt_buckets: int = 64,
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-key exact distinct-value counts — the skew-prone aggregation
    of the north rule (distinct urls per url-host with Zipfian hosts).

    Plain plan: groupBy(key).count_distinct(value) — the final dedup of
    a hot key lands on ONE reducer, which at 10^12 rows means one task
    holding a double-digit share of the corpus.

    Salted plan (exact, because the salt is a function of the value, so
    a value never appears under two salts of the same key):
        phase 1: groupBy(key, pmod(xxhash64(value), S)).count_distinct(value)
        phase 2: groupBy(key).sum(partial)
    spreading the hot key over S reducers; phase 2 merges S tiny rows.

    ``approx=True`` (profiling mode): HLL ``approx_count_distinct(rsd)``
    — sketches merge map-side so the hot key never concentrates on one
    reducer; no salting needed, one straight aggregation.
    """
    if approx:
        return df.groupBy(key).agg(
            F.approx_count_distinct(value, rsd).cast("long").alias("ndv")
        )
    if not salted:
        return df.groupBy(key).agg(F.count_distinct(value).alias("ndv"))
    partial = (
        df.groupBy(key, F.pmod(F.xxhash64(F.col(value)), F.lit(salt_buckets)).alias("_salt"))
        .agg(F.count_distinct(value).alias("_ndv"))
    )
    return partial.groupBy(key).agg(F.sum("_ndv").alias("ndv"))
