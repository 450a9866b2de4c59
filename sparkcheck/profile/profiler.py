"""One-pass table profiler.

The reference profiles a table with a pushed-down combined aggregate
(db/base.py:346-448 builds ONE ``SELECT COUNT(*), COUNT(c), MIN(c), ...``
for all columns) plus pandas-side sampled stats (profiler/analyzer.py).
Spark-native shape: ONE ``df.agg(*exprs)`` computes EXACT stats for every
column at once — no sampling split, no per-row Python:

- counts / null counts           → F.count
- distinct                       → DataSketches HLL (``hll_sketch_agg``
  at lg_k 14 over ``sketches.hll_image`` — one binary buffer field and
  constant memory per column, no shuffle growth) or exact count_distinct
- min/max/mean/stddev            → native aggs (stddev_samp: pandas std
  is the SAMPLE stddev, ddof=1 — analyzer.py:108-120)
- quartiles                      → percentile_approx (GK sketch)
- skewness/kurtosis              → F.skewness / F.kurtosis
- string length stats            → F.min/max/avg(F.length)
- pattern match-rates            → F.avg(rlike(p).cast int), fused in

A full profile is exactly THREE jobs regardless of column count:

  1. the fused stats agg above (also yields histogram bounds),
  2. ONE conditional-agg pass computing every numeric column's histogram
     (bins × columns sum-of-indicator expressions, map-side combined),
  3. ONE explode + salted two-phase groupBy computing every categorical
     column's exact top-k.

The reference launched one query per column per artifact (analyzer.py);
the round-1 repo still ran ~2 jobs/column — on a 100-column 100 TB table
that is ~200 redundant scans. Fused, the scan count is constant.

Aggregation without grouping keys is a tree-reduce: shuffle volume is
O(#columns × #bins) per partition, independent of table size ⇒ this
holds unchanged at 10^12 rows / 1000 executors.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from sparkcheck.profile.models import ColumnStatistics, TableProfile
from sparkcheck.profile.sketches import hll_image

# Pattern-detection regexes — semantics of profiler/analyzer.py:21-50
# (match-rate ≥ 10% ⇒ pattern reported). Left-anchored like re.match.
PATTERNS: dict[str, str] = {
    "email": r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$",
    "phone_us": r"^\+?1?[-.\s]?\(?[0-9]{3}\)?[-.\s]?[0-9]{3}[-.\s]?[0-9]{4}$",
    "ssn": r"^[0-9]{3}-[0-9]{2}-[0-9]{4}$",
    "credit_card": r"^[0-9]{4}[-\s]?[0-9]{4}[-\s]?[0-9]{4}[-\s]?[0-9]{4}$",
    "url": r"^https?://[^\s/$.?#].[^\s]*$",
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "ip_address": r"^([0-9]{1,3}\.){3}[0-9]{1,3}$",
}

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)
_NDV_LG_K = 14


def _kind(dt: T.DataType) -> str:
    if isinstance(dt, _NUMERIC):
        return "numeric"
    if isinstance(dt, _TEMPORAL):
        return "temporal"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    return "other"


def profile_table(
    df: DataFrame,
    table_name: str = "table",
    columns: Sequence[str] | None = None,
    approx_distinct: bool = True,
    histogram_bins: int = 10,
    top_k_k: int = 10,
    detect_patterns: bool = True,
    with_histograms: bool = True,
    with_top_k: bool = True,
    histogram_bounds: Mapping[str, tuple[float, float]] | None = None,
) -> TableProfile:
    """Profile every (or selected) column in ONE fused aggregation pass,
    plus one cheap pass per requested histogram / top-k.

    ``histogram_bounds``: per-column (lo, hi) overriding the snapshot's
    own min/max as bin edges — REQUIRED when profiling the current table
    for drift against a stored baseline, so PSI/KS compare aligned bins.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(columns) if columns else list(fields)

    exprs = [F.count(F.lit(1)).alias("__total")]
    pattern_cols: list[str] = []
    for c in cols:
        kind = _kind(fields[c])
        col = F.col(c)
        exprs.append(F.count(col).alias(f"{c}__nn"))
        # lg_k=14: 2^14 registers, ~0.8% relative standard error, exact
        # at 100 distinct values. Same registers as HLL++ at rsd 0.01,
        # but held as ONE binary buffer field, not ~1.6 k long fields
        # whose expression codegen cost ~0.85 s per column.
        dc = (
            F.hll_sketch_estimate(F.hll_sketch_agg(hll_image(col, fields[c]), _NDV_LG_K))
            if approx_distinct else F.count_distinct(col)
        )
        exprs.append(dc.alias(f"{c}__distinct"))
        if kind in ("numeric", "temporal", "string", "boolean"):
            exprs.append(F.min(col).alias(f"{c}__min"))
            exprs.append(F.max(col).alias(f"{c}__max"))
        if kind == "numeric":
            exprs.append(F.avg(col).alias(f"{c}__mean"))
            exprs.append(F.stddev_samp(col).alias(f"{c}__std"))
            exprs.append(
                F.percentile_approx(col, [0.25, 0.5, 0.75]).alias(f"{c}__quartiles")
            )
            exprs.append(F.skewness(col).alias(f"{c}__skew"))
            exprs.append(F.kurtosis(col).alias(f"{c}__kurt"))
        if kind == "string":
            ln = F.length(col)
            exprs.append(F.min(ln).alias(f"{c}__lmin"))
            exprs.append(F.max(ln).alias(f"{c}__lmax"))
            exprs.append(F.avg(ln).alias(f"{c}__lavg"))
            if detect_patterns:
                pattern_cols.append(c)
                for pname, pat in PATTERNS.items():
                    exprs.append(
                        F.avg(col.rlike(pat).cast("int")).alias(f"{c}__pat__{pname}")
                    )

    row = df.agg(*exprs).collect()[0].asDict()
    total = row["__total"]

    out: dict[str, ColumnStatistics] = {}
    for c in cols:
        kind = _kind(fields[c])
        nn = row[f"{c}__nn"]
        cs = ColumnStatistics(
            name=c,
            data_type=fields[c].simpleString(),
            total_count=total,
            non_null_count=nn,
            null_count=total - nn,
            distinct_count=row.get(f"{c}__distinct"),
            min_value=row.get(f"{c}__min"),
            max_value=row.get(f"{c}__max"),
            mean=row.get(f"{c}__mean"),
            stddev=row.get(f"{c}__std"),
            quartiles=list(row[f"{c}__quartiles"]) if row.get(f"{c}__quartiles") else None,
            skewness=row.get(f"{c}__skew"),
            kurtosis=row.get(f"{c}__kurt"),
            min_length=row.get(f"{c}__lmin"),
            max_length=row.get(f"{c}__lmax"),
            avg_length=row.get(f"{c}__lavg"),
        )
        if c in pattern_cols:
            for pname in PATTERNS:
                rate = row.get(f"{c}__pat__{pname}")
                # ≥10% match-rate ⇒ reported, with confidence = rate
                # (analyzer.py:172-208).
                if rate is not None and rate >= 0.10:
                    cs.patterns.append({"pattern": pname, "confidence": float(rate)})
        # PK-candidate: all rows present and distinct. Exact ndv ⇒ strict
        # equality; HLL ndv ⇒ a 3% tolerance band (over 3× the lg_k=14
        # sketch's relative standard error) — an estimate to confirm with
        # a uniqueness rule, matching the reference's primary_keys profile
        # enrichment (profiler/__init__.py:258-269).
        ndv = cs.distinct_count
        if total > 0 and cs.null_count == 0 and ndv is not None:
            floor = nn if not approx_distinct else nn * (1 - 3 * 0.01)
            cs.pk_candidate = ndv >= floor
        out[c] = cs

    if with_histograms:
        specs: dict[str, tuple[float, float]] = {}
        for c in cols:
            if _kind(fields[c]) != "numeric":
                continue
            if histogram_bounds and c in histogram_bounds:
                lo, hi = histogram_bounds[c]
            else:
                lo, hi = out[c].min_value, out[c].max_value
            if lo is None or hi is None or float(hi) == float(lo):
                continue
            specs[c] = (float(lo), float(hi))
        for c, counts in fused_histograms(df, specs, bins=histogram_bins).items():
            # dense bins (empty bins present) so PSI/KS align positionally
            out[c].histogram = [
                {"bucket": b, "count": int(n)} for b, n in enumerate(counts)
            ]
            out[c].histogram_lo, out[c].histogram_hi = specs[c]

    if with_top_k:
        cat_cols = [c for c in cols if _kind(fields[c]) in ("string", "boolean")]
        if cat_cols:
            by_col: dict[str, list] = {c: [] for c in cat_cols}
            for r in top_k_all(df, cat_cols, k=top_k_k).collect():
                v = r["value"]
                if isinstance(fields[r["column"]], T.BooleanType):
                    v = v == "true"
                by_col[r["column"]].append({"value": v, "count": r["value_count"]})
            for c, vals in by_col.items():
                out[c].top_values = vals

    return TableProfile(table=table_name, total_rows=total, columns=out)


def percentile_bracket_aggs(
    cols: Sequence[str],
    qs: Sequence[float],
    accuracy: int = 2500,
    q_margin: float = 0.002,
) -> list:
    """Stage-1 aggregate expressions of ``exact_percentiles`` (per
    column: non-null count + ONE bracketing GK sketch). Exposed so a
    caller that already runs a fused single-pass agg over the same
    table can append these and hand the collected row to
    ``exact_percentiles(..., sketch_row=row)`` — one scan instead of
    two (q_profile_stats does exactly this)."""
    aggs = []
    for c in cols:
        col = F.col(c)
        bracket_qs = [max(0.0, q - q_margin) for q in qs] + [
            min(1.0, q + q_margin) for q in qs
        ]
        aggs += [
            F.count(col).alias(f"{c}__n"),
            F.percentile_approx(col, bracket_qs, accuracy).alias(f"{c}__lohi"),
        ]
    return aggs


def exact_percentiles(
    df: DataFrame,
    cols: Sequence[str],
    qs: Sequence[float],
    accuracy: int = 2500,
    q_margin: float = 0.002,
    sketch_row=None,
) -> dict[str, list[float | None]]:
    """EXACT percentiles (bit-identical to Spark's ``percentile()``)
    without the single-reducer value-map merge — the scale path for
    exact quantiles over high-cardinality columns.

    Spark's exact ``percentile`` aggregate builds a value→count
    OpenHashMap per task and merges + sorts them on ONE final reducer;
    for a near-unique double column the merge holds every distinct
    value (measured 12.5 s single-threaded on a 6M-row ~4.6M-distinct
    column, vs 0.2 s for the same table's 50-distinct column). This
    replaces it with distributed rank selection (guide §2: shuffle a
    lightweight proxy — counts — never the values):

      1. ONE fused agg: per column, ``count()`` + ONE GK sketch
         (``percentile_approx`` over the concatenated lo+hi quantile
         list — one buffer per column, not two) bracketing each target
         rank with a ±``q_margin`` quantile margin at rank error
         ≤ N/``accuracy``. The default accuracy 2500 keeps rank error
         (N/2500 = 0.0004·N) a 5× margin under the 0.002·N bracket —
         raising accuracy only fattens the sketch buffers every task
         must build and merge (10000 → 2500 measured 3.3 → 1.9 s on
         the sf0.1 3-column pass with identical final values);
      2. ONE fused agg: the exact rank of every bracket's lower value
         (conditional counts — map-side combined, O(cols×qs) result);
      3. ONE job collecting each bracket's (value, multiplicity) slice
         (grouped — a heavy-duplicate column collapses to a few rows);
      4. driver: walk the slice's cumulative counts to the value at
         positions floor/ceil(q·(N−1)) and interpolate with EXACTLY
         Spark's formula ``(hi−pos)·vL + (pos−lo)·vH`` — the same IEEE
         double ops in the same order, so results are bit-identical
         (pytest-pinned against ``percentile()`` per scale factor).

    Every pass is a map-side-combined scan — no shuffle grows with the
    data, and the collected slices are O(cols × qs × N·q_margin)
    DISTINCT values (~24k rows per bracket at the defaults). If a
    bracket misses its rank (approx error beyond the margin — cannot
    happen while percentile_approx honors its rank-error contract), the
    affected column falls back to the exact ``percentile`` aggregate.
    NULLs are ignored and an all-NULL column yields ``None``s, matching
    ``percentile()``.
    """
    import math

    qs = list(qs)
    nq = len(qs)
    if sketch_row is not None:
        row0 = sketch_row
    else:
        row0 = df.agg(
            *percentile_bracket_aggs(cols, qs, accuracy, q_margin)
        ).collect()[0]

    base_aggs = []
    slice_items = []
    bounds: dict[str, tuple[list, list]] = {}
    for c in cols:
        if row0[f"{c}__n"] == 0:
            continue
        col = F.col(c)
        lohi = row0[f"{c}__lohi"]
        los, his = lohi[:nq], lohi[nq:]
        bounds[c] = (los, his)
        cond = None
        for i, (lo, hi) in enumerate(zip(los, his)):
            base_aggs.append(
                F.count(F.when(col < F.lit(lo), 1)).alias(f"{c}__b{i}")
            )
            rng = (col >= F.lit(lo)) & (col <= F.lit(hi))
            cond = rng if cond is None else (cond | rng)
        slice_items.append(
            F.when(cond, F.struct(F.lit(c).alias("c"), col.cast("double").alias("v")))
        )
    out: dict[str, list[float | None]] = {c: [None] * len(qs) for c in cols}
    if not base_aggs:
        return out
    # ONE scan for every column's bracket slice (a per-column
    # where+groupBy union re-scans the table per column): each row
    # yields the (column, value) entries that fall inside any of that
    # column's brackets, exploded and grouped. Sequential with the rank
    # agg — overlapping these two sub-second jobs through driver
    # threads measured SLOWER (1.3-1.7 s vs 0.9 s: FAIR-pool slot
    # thrash dominates at this job size).
    slices_df = (
        df.select(
            F.explode(
                F.filter(F.array(*slice_items), lambda x: x.isNotNull())
            ).alias("e")
        )
        .groupBy(F.col("e.c").alias("c"), F.col("e.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    row1 = df.agg(*base_aggs).collect()[0]
    slice_rows = slices_df.collect()
    slices: dict[str, list] = {c: [] for c in bounds}
    for r in slice_rows:
        slices[r["c"]].append((r["v"], r["cnt"]))
    fallback = []
    for c, (los, his) in bounds.items():
        n = row0[f"{c}__n"]
        vals = sorted(slices[c])
        res: list[float | None] = []
        for i, q in enumerate(qs):
            pos = q * (n - 1)
            lower, higher = math.floor(pos), math.ceil(pos)
            base = row1[f"{c}__b{i}"]

            def value_at(p: int, lo=los[i], base=base):
                if p < base:
                    return None
                cum = base
                for v, cnt in vals:
                    if v < lo:
                        continue
                    cum += cnt
                    if cum > p:
                        return v
                return None

            v_l, v_h = value_at(lower), value_at(higher)
            if v_l is None or v_h is None:
                fallback.append(c)
                break
            if higher == lower or v_l == v_h:
                res.append(float(v_l))
            else:
                res.append((higher - pos) * v_l + (pos - lower) * v_h)
        else:
            out[c] = res
    if fallback:
        row = df.agg(
            *[
                F.expr(
                    f"percentile(`{c}`, array({', '.join(map(str, qs))}))"
                ).alias(c)
                for c in fallback
            ]
        ).collect()[0]
        for c in fallback:
            out[c] = list(row[c])
    return out


def histogram_exprs(
    specs: Mapping[str, tuple[float, float]], bins: int = 10
) -> list:
    """The bins × columns conditional-sum expressions behind
    ``fused_histograms`` — exposed so callers that need MORE aggregates
    in the same pass (e.g. streaming.monitor_drift_stream adding a row
    count) can extend ONE scan instead of launching a second job.
    Aliases are ``{col}__h{b}``."""
    exprs = []
    for c, (lo, hi) in specs.items():
        col = F.col(c).cast("double")
        width = (hi - lo) / float(bins)
        bucket = F.greatest(
            F.least(F.floor((col - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)),
            F.lit(0),
        )
        for b in range(bins):
            exprs.append(
                F.sum((col.isNotNull() & (bucket == b)).cast("long")).alias(f"{c}__h{b}")
            )
    return exprs


def fused_histograms(
    df: DataFrame, specs: Mapping[str, tuple[float, float]], bins: int = 10
) -> dict[str, list[int]]:
    """Equi-width histograms for MANY columns in ONE aggregation pass:
    bins × columns conditional sums (sum of bucket-indicator), map-side
    combined by whole-stage codegen — the fix for the round-1 per-column
    histogram job loop. Same bucket semantics as ``histogram()`` (floor
    bucketing, both ends clamped, NULLs dropped)."""
    if not specs:
        return {}
    row = df.agg(*histogram_exprs(specs, bins)).collect()[0]
    return {c: [int(row[f"{c}__h{b}"] or 0) for b in range(bins)] for c in specs}


def top_k_all(
    df: DataFrame,
    columns: Sequence[str],
    k: int = 10,
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact top-k frequent values for MANY columns in ONE job:
    (column, value, value_count, rn ≤ k).

    Shape: explode each row into (column, value) pairs (map-only, ×|cols|),
    ONE groupBy (column, value) for exact counts, then a salted two-phase
    top-k: per-(column, salt) local top-k (parallel windows) → global
    top-k over the ≤ salt_buckets×k survivors per column. Exact because a
    value lives in exactly one salt bucket, so every global top-k value
    is in its bucket's local top-k. No single-reducer sort of a
    high-cardinality column's distinct values (the naive window
    partitionBy(column) would funnel e.g. every distinct url through one
    task). Values are cast to string for the union (callers convert
    booleans back); tie-break is (count desc, value asc) as in top_k()."""
    structs = F.array(*[
        F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
        for c in columns
    ])
    counted = (
        df.select(F.explode(structs).alias("s"))
        .select("s.column", "s.value")
        .where(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("value_count"))
    )
    salt = F.pmod(F.xxhash64("value"), F.lit(salt_buckets))
    w_local = Window.partitionBy("column", "_salt").orderBy(
        F.desc("value_count"), F.asc("value")
    )
    w_global = Window.partitionBy("column").orderBy(
        F.desc("value_count"), F.asc("value")
    )
    return (
        counted.withColumn("_salt", salt)
        .withColumn("_r", F.row_number().over(w_local))
        .where(F.col("_r") <= k)
        .withColumn("rn", F.row_number().over(w_global))
        .where(F.col("rn") <= k)
        .drop("_salt", "_r")
    )


def histogram(
    df: DataFrame, column: str, bins: int = 10,
    lo: float | None = None, hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram, reference semantics (db/base.py:467-531):
    bucket = floor((v − lo)/width), the max value clamped into the last
    bin, NULLs dropped. When lo/hi are not given they are computed in an
    extra tiny agg pass (a cross-join of one row — broadcast, free)."""
    col = F.col(column).cast("double")
    if lo is None or hi is None:
        mm = df.agg(F.min(col).alias("__lo"), F.max(col).alias("__hi"))
        src = df.crossJoin(F.broadcast(mm))
        lo_c, hi_c = F.col("__lo"), F.col("__hi")
    else:
        src = df
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
    width = (hi_c - lo_c) / F.lit(float(bins))
    # clamp BOTH ends: values above hi land in the last bin (reference
    # db/base.py:510 semantics) and values below lo in the first — the
    # below-lo case arises when re-binning current data on a stored
    # baseline's edges for drift PSI.
    bucket = F.greatest(
        F.least(F.floor((col - lo_c) / width), F.lit(bins - 1)), F.lit(0)
    ).cast("int")
    return (
        src.where(col.isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_count"))
        .orderBy("bucket")
    )


def top_k(df: DataFrame, column: str, k: int = 10, ascending: bool = False) -> DataFrame:
    """Top-K (or bottom-K) frequent values — analyzer.py:148-160.
    Deterministic tie-break on the value itself."""
    counted = (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("value_count"))
    )
    order = (
        [F.asc("value_count"), F.asc("value")]
        if ascending
        else [F.desc("value_count"), F.asc("value")]
    )
    return counted.orderBy(*order).limit(k)


def pattern_match_rates(df: DataFrame, column: str) -> DataFrame:
    """Match-rate per detection pattern for one string column, as rows
    (pattern, match_rate) — fused into a single agg pass."""
    col = F.col(column)
    exprs = [
        F.avg(col.rlike(p).cast("int")).alias(name) for name, p in PATTERNS.items()
    ]
    agg = df.where(col.isNotNull()).agg(*exprs)
    pairs = ", ".join(f"'{name}', {name}" for name in PATTERNS)
    return agg.selectExpr(
        f"stack({len(PATTERNS)}, {pairs}) as (pattern, match_rate)"
    )


def pattern_examples(
    df: DataFrame,
    column: str,
    k: int = 3,
    min_rate: float = 0.10,
    salt_buckets: int = 32,
) -> DataFrame:
    """The k smallest DISTINCT matching values per DETECTED pattern
    (match-rate ≥ min_rate) — the reference reports 3 example values +
    confidence per detected pattern (profiler/analyzer.py:172-208); min-k
    by value makes the examples deterministic at any parallelism.

    Output: (pattern, match_rate, example_rank, example_value).

    Two jobs total, both scale-safe: the rate agg (one fused pass), then
    explode → distinct (pattern, value) matches → salted two-phase
    bottom-k (per-(pattern, salt) local min-k, then global min-k over
    ≤ salt_buckets × k survivors — exact for the same one-bucket-per-value
    argument as top_k_all, no single-reducer sort of a pattern's distinct
    matches)."""
    col = F.col(column)
    rates = pattern_match_rates(df, column).where(F.col("match_rate") >= min_rate)
    structs = F.array(*[
        F.struct(F.lit(name).alias("pattern"),
                 F.when(col.rlike(pat), col).alias("example_value"))
        for name, pat in PATTERNS.items()
    ])
    matches = (
        df.where(col.isNotNull())
        .select(F.explode(structs).alias("s"))
        .select("s.pattern", "s.example_value")
        .where(F.col("example_value").isNotNull())
        .distinct()
    )
    w_local = Window.partitionBy("pattern", "_salt").orderBy("example_value")
    w_global = Window.partitionBy("pattern").orderBy("example_value")
    bottom = (
        matches.withColumn("_salt", F.pmod(F.xxhash64("example_value"), F.lit(salt_buckets)))
        .withColumn("_r", F.row_number().over(w_local))
        .where(F.col("_r") <= k)
        .withColumn("example_rank", F.row_number().over(w_global))
        .where(F.col("example_rank") <= k)
        .drop("_salt", "_r")
    )
    return bottom.join(F.broadcast(rates), "pattern").select(
        "pattern", "match_rate", "example_rank", "example_value"
    )
