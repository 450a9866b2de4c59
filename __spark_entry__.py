"""Driver contract: flagship entry, operator queries, and DuckDB oracles.

Every `queries()` entry is an operator from SURVEY.md §2 (validation
catalog) or the training-data-pipeline family (dedup / similarity /
text analysis), implemented Spark-first in `sparkcheck/` and mirrored by
ANSI SQL in `oracle_sql()` for the DuckDB cross-check at sf0.01.

Cross-engine determinism rules used throughout:
- all hashing is md5 HEX STRINGS (identical bytes in both engines);
- float aggregates are ROUND()ed identically on both sides;
- counts are BIGINT on both sides (DuckDB sum(int) is HUGEINT ⇒ CAST);
- ties in any top-k/rank are broken by an id column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from sparkcheck.compile import summary_df
from sparkcheck.dedup import (
    embedding_near_duplicates,
    exact_duplicate_groups,
    jaccard_pairs,
    minhash_signatures,
    simhash,
    simhash_near_duplicates,
)
from sparkcheck.integrity import orphan_summary, uniqueness_summary
from sparkcheck.rules.models import (
    CompletenessRule,
    EnumRule,
    LengthRule,
    NullCheckRule,
    RangeRule,
    RegexRule,
)
from sparkcheck.similarity import cosine_topk_bruteforce, cosine_topk_bucketed
from sparkcheck.textstats import (
    STOPWORDS,
    fingerprint,
    gopher_quality_flags,
    lang_id,
    quality_score,
    token_stats,
)

SF_SMOKE = "/root/testdata/sf0.001"

LANGS = ("en", "es", "fr", "de", "zh")


def _scan_parallelism(path: str) -> tuple[int, int]:
    """(row groups, bytes) of a parquet file/dir: splits are row-group-
    granular, so a single-row-group file is read by ONE task no matter
    how small the split size is."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(f"{path}/*.parquet")) or [path]
    rgs = sum(_pq.ParquetFile(f).metadata.num_row_groups for f in files)
    return rgs, sum(_os.path.getsize(f) for f in files)


_SCAN_PAR_CACHE: dict[str, tuple[int, int]] = {}

# only repartition SMALL under-parallel inputs: above this, the exchange
# of the full table costs more than the parallelism it buys (measured:
# repartitioning the 131 MB 6-row-group lineitem added ~3 s per pass)
_REPARTITION_MAX_BYTES = 64 * 1024 * 1024

# profile_stats percentile path switch: below this parquet size the ONE
# fused percentile() job wins; above it the single-reducer value-map
# merge degrades with distinct count and distributed rank selection wins
# (see q_profile_stats)
_PCT_FUSED_MAX_BYTES = 32 * 1024 * 1024

# tables whose consumers do heavy per-row compute — the only ones where
# the under-parallel-input repartition in _t pays (see _t)
_REPARTITION_TABLES = {"documents", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The oracle comparison needs timestamp rendering to be UTC-stable
    # regardless of the harness session's default timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # The driver-generated tables are written as one row group per file
    # (ONE task reads everything), so the per-row compute of downstream
    # operators serializes onto a single core (guide §2.5 input skew:
    # "one huge unsplittable file... repartition immediately after the
    # read"). The round-robin exchange only pays for itself where
    # per-row compute dominates — the CORPUS tables (tokenize / shingle
    # / hash / vector math); on the narrow relational tables every
    # consumer is a near-free columnar agg and the exchange is pure
    # loss (measured on a 10x replica: uniqueness_orders 0.33→0.62 s,
    # histogram 0.30→0.55 s with the exchange, vs lang_id 1.87→0.6 s
    # WITH it on documents at driver-sf1.0). Tables whose row-group
    # count already feeds every slot (e.g. a 100 TB lake table) skip it
    # regardless — the check is metadata-only.
    if name in _REPARTITION_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        meta = _SCAN_PAR_CACHE.get(path)
        if meta is None:
            try:
                meta = _scan_parallelism(path)
            except Exception:
                meta = (1 << 30, 1 << 60)  # metadata unreadable: assume splittable
            _SCAN_PAR_CACHE[path] = meta
        par, nbytes = meta
        slots = spark.sparkContext.defaultParallelism
        if par < slots and nbytes <= _REPARTITION_MAX_BYTES:
            df = df.repartition(slots)
    return df


def _doc_suite():
    """Webtext-style rule suite over the documents table — the flagship
    fused single-pass validation (SURVEY §2.2 catalog)."""
    return [
        NullCheckRule(name="nn_text", column="text"),
        RegexRule(name="re_source", column="source", pattern="src"),
        RangeRule(name="rg_nchars", column="n_chars", min_value=0, max_value=1000),
        EnumRule(name="enum_lang", column="lang", allowed_values=LANGS),
        LengthRule(name="len_text", column="text", min_length=10, max_length=2000),
        CompletenessRule(name="comp_doc", required_columns=("text", "lang")),
    ]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full fused rule-suite summary over sf0.001 documents
    — ONE scan, every rule a codegen'd predicate, per-rule verdict rows."""
    docs = _t(spark, SF_SMOKE, "documents")
    return summary_df(docs, _doc_suite())


# ----------------------------------------------------------------- helpers

def _longify(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cast int columns to long so Spark schema == DuckDB BIGINT."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


# ------------------------------------------------------------- the queries

def q_rules_summary(spark: SparkSession, sf: str) -> DataFrame:
    return summary_df(_t(spark, sf, "documents"), _doc_suite())


def q_profile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column numeric profile (SURVEY §2.4 aggregate catalog) for
    lineitem measures — one fused agg, unpivoted to one row per column."""
    li = _t(spark, sf, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    # Two fused aggs, not one: mixing count_distinct (which plans an
    # Expand ×(N+1)) with exact-percentile buffers multiplies the buffer
    # traffic ~8× — splitting them measured 34s → 4s at sf0.1. ndv stays
    # exact for oracle parity; the profiler module's scale path uses the
    # DataSketches HLL (hll_sketch_agg).
    # Quartiles come from profiler.exact_percentiles — bit-identical to
    # the percentile() aggregate (pytest-pinned) without its
    # single-reducer value-map merge, which alone cost 12.5 s on the
    # near-unique l_extendedprice at sf1.0 (round-7 measurement; the
    # whole query is now ~4 s there).
    from concurrent.futures import ThreadPoolExecutor

    from sparkcheck.profile.profiler import (
        exact_percentiles,
        percentile_bracket_aggs,
    )

    # Job layout (guide §2.6 — overlap independent jobs, and §1.2 —
    # don't re-scan for what one pass can fuse): the ndv jobs (one per
    # column — a 3-column count_distinct in ONE agg plans an Expand ×3)
    # run from driver threads CONCURRENTLY with a single fused scan
    # computing basic stats + the percentile bracket sketches, followed
    # by the two small rank/slice jobs. The final frame is assembled
    # from the collected literals — no extra pass over the table.
    qs3 = [0.25, 0.5, 0.75]
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}__cnt"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.round(F.min(col), 4).alias(f"{c}__min"),
            F.round(F.max(col), 4).alias(f"{c}__max"),
            F.round(F.avg(col), 4).alias(f"{c}__mean"),
            F.round(F.stddev_samp(col), 4).alias(f"{c}__std"),
        ]
    # Size-adaptive percentile path (the same metadata-only check _t
    # uses; analogous to AQE's size-conditioned choices): below
    # _PCT_FUSED_MAX_BYTES the single-reducer percentile() merge is
    # cheap and ONE fused job beats the rank-selection passes' ~5-job
    # fixed overhead (2.2 s vs 3.8 s at sf0.1's 11 MB lineitem); above
    # it the single reducer degrades with distinct-value count (12.5 s
    # on one column at sf1.0) and the distributed rank selection wins
    # 3-6x. Both paths are bit-identical (exact_percentiles pin +
    # tests/test_entry_queries.py path-equality pin).
    try:
        _, li_bytes = _SCAN_PAR_CACHE.get(
            f"{sf}/lineitem.parquet"
        ) or _scan_parallelism(f"{sf}/lineitem.parquet")
    except Exception:
        li_bytes = 1 << 60
    if li_bytes <= _PCT_FUSED_MAX_BYTES:
        for c in cols:
            aggs.append(
                F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(
                    f"{c}__qs"
                )
            )
        ndv = li.agg(
            *[F.count_distinct(F.col(c)).alias(f"{c}__ndv") for c in cols]
        )
        one = li.agg(*aggs).crossJoin(F.broadcast(ndv))
        for c in cols:
            for i, s in enumerate(["q1", "med", "q3"]):
                one = one.withColumn(f"{c}__{s}", F.round(F.col(f"{c}__qs")[i], 4))
            one = one.drop(f"{c}__qs")
        stats = ["cnt", "nulls", "ndv", "min", "max", "mean", "std", "q1", "med", "q3"]
        stack = ", ".join(
            "'" + c + "', " + ", ".join(f"`{c}__{s}`" for s in stats) for c in cols
        )
        return one.selectExpr(
            f"stack({len(cols)}, {stack}) as (column, cnt, nulls, ndv, "
            "min_v, max_v, mean_v, std_v, q1, med, q3)"
        )
    aggs += percentile_bracket_aggs(cols, qs3)

    def _ndv(c: str) -> int:
        return li.agg(F.count_distinct(F.col(c))).collect()[0][0]

    def _stats_and_pct():
        row = li.agg(*aggs).collect()[0]
        return row, exact_percentiles(li, cols, qs3, sketch_row=row)

    with ThreadPoolExecutor(max_workers=4) as pool:
        stats_fut = pool.submit(_stats_and_pct)
        ndv_futs = {c: pool.submit(_ndv, c) for c in cols}
        row, pct = stats_fut.result()
        ndvs = {c: f.result() for c, f in ndv_futs.items()}
    sel = []
    for c in cols:
        sel += [
            F.lit(row[f"{c}__cnt"]).cast("long").alias(f"{c}__cnt"),
            F.lit(row[f"{c}__nulls"]).cast("long").alias(f"{c}__nulls"),
            F.lit(ndvs[c]).cast("long").alias(f"{c}__ndv"),
            F.lit(row[f"{c}__min"]).cast("double").alias(f"{c}__min"),
            F.lit(row[f"{c}__max"]).cast("double").alias(f"{c}__max"),
            F.lit(row[f"{c}__mean"]).cast("double").alias(f"{c}__mean"),
            F.lit(row[f"{c}__std"]).cast("double").alias(f"{c}__std"),
        ] + [
            F.round(F.lit(pct[c][i]).cast("double"), 4).alias(f"{c}__{s}")
            for i, s in enumerate(["q1", "med", "q3"])
        ]
    one = spark.range(1).select(*sel)
    stats = ["cnt", "nulls", "ndv", "min", "max", "mean", "std", "q1", "med", "q3"]
    stack = ", ".join(
        "'" + c + "', " + ", ".join(f"`{c}__{s}`" for s in stats) for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) as (column, cnt, nulls, ndv, "
        "min_v, max_v, mean_v, std_v, q1, med, q3)"
    )


def q_histogram_totalprice(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram (reference db/base.py:467-531 semantics:
    fixed bounds, last-bin clamp)."""
    from sparkcheck.profile import histogram

    out = histogram(_t(spark, sf, "orders"), "o_totalprice", bins=10, lo=0.0, hi=500000.0)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("bucket_count").alias("cnt"),
    )


def q_top_k_brand(spark: SparkSession, sf: str) -> DataFrame:
    from sparkcheck.profile import top_k

    return top_k(_t(spark, sf, "part"), "p_brand", k=10).select(
        F.col("value").alias("p_brand"), F.col("value_count").alias("cnt")
    )


def q_bottom_k_type(spark: SparkSession, sf: str) -> DataFrame:
    """Bottom-K frequent values (analyzer.py:148-160 tail)."""
    from sparkcheck.profile import top_k

    return top_k(_t(spark, sf, "part"), "p_type", k=5, ascending=True).select(
        F.col("value").alias("p_type"), F.col("value_count").alias("cnt")
    )


def q_uniqueness_orders(spark: SparkSession, sf: str) -> DataFrame:
    return uniqueness_summary(_t(spark, sf, "orders"), ["o_orderkey"])


def q_duplicate_doc_texts(spark: SparkSession, sf: str) -> DataFrame:
    return exact_duplicate_groups(_t(spark, sf, "documents"))


def q_orphan_orders(spark: SparkSession, sf: str) -> DataFrame:
    return orphan_summary(
        _t(spark, sf, "orders"), "o_custkey",
        _t(spark, sf, "customer"), "c_custkey",
        broadcast_parent=True,
    )


def q_orphan_lineitem_part(spark: SparkSession, sf: str) -> DataFrame:
    return orphan_summary(
        _t(spark, sf, "lineitem"), "l_partkey",
        _t(spark, sf, "part"), "p_partkey",
        broadcast_parent=True,
    )


def q_completeness_events(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    bad = (
        F.col("ts").isNull() | F.col("user_id").isNull() | F.col("value").isNull()
    ).cast("long")
    return e.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.coalesce(F.sum(bad), F.lit(0)).alias("incomplete_rows"),
    )


def q_pattern_rates(spark: SparkSession, sf: str) -> DataFrame:
    """Pattern-detection match rates (profiler/analyzer.py:21-50
    semantics) over customer names — one fused agg, unpivoted."""
    from sparkcheck.profile.profiler import PATTERNS

    c = _t(spark, sf, "customer")
    col = F.col("c_name").cast("string")
    aggs = [
        F.round(
            F.coalesce(F.avg(col.rlike(p).cast("int")), F.lit(0.0)), 6
        ).alias(f"r_{name}")
        for name, p in PATTERNS.items()
    ]
    one = c.agg(*aggs)
    stack = ", ".join(f"'{name}', `r_{name}`" for name in PATTERNS)
    return one.selectExpr(f"stack({len(PATTERNS)}, {stack}) as (pattern, match_rate)")


def q_pattern_examples(spark: SparkSession, sf: str) -> DataFrame:
    """Pattern detection WITH example values (profiler/analyzer.py:
    172-208: 3 sample matched values + confidence per detected pattern).
    The pattern-bearing column is derived deterministically from customer
    keys (25% emails, 25% urls, 50% plain names) so two patterns clear
    the 10% detection gate; examples are the 3 smallest distinct matches
    (salted two-phase bottom-k — no single-reducer sort)."""
    from sparkcheck.profile.profiler import pattern_examples

    c = _t(spark, sf, "customer")
    key = F.col("c_custkey")
    v = (
        F.when(key % 4 == 0,
               F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com")))
        .when(key % 4 == 1,
              F.concat(F.lit("https://ex.com/p/"), key.cast("string")))
        .otherwise(F.col("c_name"))
    )
    out = pattern_examples(c.select(v.alias("v")), "v", k=3)
    return out.select(
        "pattern",
        F.round("match_rate", 6).alias("match_rate"),
        F.col("example_rank").cast("long").alias("example_rank"),
        "example_value",
    )


def q_iqr_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """IQR outlier rows (profiler/analyzer.py:122-128): values outside
    [q1-1.5*IQR, q3+1.5*IQR] over customer acctbal."""
    c = _t(spark, sf, "customer")
    b = c.agg(
        F.expr("percentile(c_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q3"),
    )
    return (
        c.crossJoin(F.broadcast(b))
        .where(
            (F.col("c_acctbal") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
            | (F.col("c_acctbal") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
        )
        .select("c_custkey", "c_acctbal")
    )


def q_anomaly_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Anomaly detection (reporting/analyzer.py:181-230): union of IQR
    outliers and z-score>3 outliers, with the method(s) that flagged
    each row. Bounds from one tiny agg, broadcast to a single filter
    scan."""
    c = _t(spark, sf, "customer")
    b = c.agg(
        F.expr("percentile(c_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q3"),
        F.avg("c_acctbal").alias("mu"),
        F.stddev_samp("c_acctbal").alias("sd"),
    )
    j = c.crossJoin(F.broadcast(b))
    iqr = F.col("q3") - F.col("q1")
    is_iqr = (F.col("c_acctbal") < F.col("q1") - 1.5 * iqr) | (
        F.col("c_acctbal") > F.col("q3") + 1.5 * iqr
    )
    is_z = F.abs((F.col("c_acctbal") - F.col("mu")) / F.col("sd")) > 3.0
    return (
        j.where(is_iqr | is_z)
        .select(
            "c_custkey",
            "c_acctbal",
            is_iqr.cast("int").alias("by_iqr"),
            is_z.cast("int").alias("by_zscore"),
        )
    )


def q_correlation(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
    )


def q_distribution_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Skewness/kurtosis via raw moments with IDENTICAL arithmetic in
    both engines (Spark's skewness() and DuckDB's differ in bias
    correction, so neither builtin is used)."""
    o = _t(spark, sf, "orders")
    x = (F.col("o_totalprice") / F.lit(100000.0))
    one = o.agg(
        F.avg(x).alias("a1"),
        F.avg(x * x).alias("a2"),
        F.avg(x * x * x).alias("a3"),
        F.avg(x * x * x * x).alias("a4"),
    )
    a1, a2, a3, a4 = F.col("a1"), F.col("a2"), F.col("a3"), F.col("a4")
    var = a2 - a1 * a1
    m3 = a3 - 3 * a1 * a2 + 2 * a1 * a1 * a1
    m4 = a4 - 4 * a1 * a3 + 6 * a1 * a1 * a2 - 3 * a1 * a1 * a1 * a1
    return one.select(
        F.round(a1, 6).alias("mean_scaled"),
        F.round(var, 6).alias("var_scaled"),
        F.round(m3 / F.pow(var, 1.5), 4).alias("skewness_g1"),
        F.round(m4 / (var * var) - 3, 4).alias("kurtosis_g2"),
    )


def q_trend_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Drift-over-time trend (reporting/analyzer.py:105-161 semantics):
    OLS slope of value vs time + correlation."""
    e = _t(spark, sf, "events")
    day = (F.unix_timestamp("ts").cast("double") / F.lit(86400.0))
    return e.agg(
        F.round(F.regr_slope(F.col("value"), day), 6).alias("slope_per_day"),
        F.round(F.corr(day, F.col("value")), 6).alias("corr_time_value"),
    )


def _binned_fracs(e: DataFrame):
    """Shared PSI/KS shape: per-slice per-bucket fractions over fixed
    bins [0,500)×10 on events.value, click vs view.

    ONE scan: the two slices pivot into conditional sums per bucket
    (never a per-slice self-join, which would rescan the table per
    slice), and the totals come from an unpartitioned window over the
    ≤bins-row bucket frame — so the 100 TB input is read exactly once."""
    bins, lo, width = 10, 0.0, 50.0
    is_e = (F.col("event_type") == "click").cast("long")
    bucket = F.least(
        F.floor((F.col("value") - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
    ).cast("long")
    wide = (
        e.where(F.col("value").isNotNull() & F.col("event_type").isin("click", "view"))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.sum(is_e).alias("ne"),
            F.sum(F.lit(1) - is_e).alias("na"),
        )
    )
    spine = e.sparkSession.range(bins).select(F.col("id").alias("bucket"))
    wide = spine.join(wide, "bucket", "left").select(
        "bucket",
        F.coalesce("ne", F.lit(0)).alias("ne"),
        F.coalesce("na", F.lit(0)).alias("na"),
    )
    w = Window.partitionBy()  # whole (tiny) bucket frame
    return wide.select(
        "bucket",
        F.greatest(F.col("ne") / F.sum("ne").over(w), F.lit(1e-6)).alias("pe"),
        F.greatest(F.col("na") / F.sum("na").over(w), F.lit(1e-6)).alias("pa"),
    )


def q_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    fr = _binned_fracs(_t(spark, sf, "events"))
    return fr.agg(
        F.round(F.sum((F.col("pa") - F.col("pe")) * F.log(F.col("pa") / F.col("pe"))), 6)
        .alias("psi")
    )


def q_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    fr = _binned_fracs(_t(spark, sf, "events"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = fr.select(F.abs(F.sum("pe").over(w) - F.sum("pa").over(w)).alias("d"))
    return cdf.agg(F.round(F.max("d"), 6).alias("ks"))


def q_reconcile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table reconciliation (examples/configs/validations.yaml:79-92
    shape): orders whose lineitem net-total differs from o_totalprice."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net")
    )
    joined = o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left")
    mism = (F.abs(F.col("o_totalprice") - F.coalesce(F.col("net"), F.lit(0.0))) > 0.01)
    return joined.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.coalesce(F.sum(mism.cast("long")), F.lit(0)).alias("n_mismatch"),
    )


def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return jaccard_pairs(_t(spark, sf, "documents"), k=3, threshold=0.2)


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster formation: connected components over the exact
    jaccard near-dup pairs (dedup/clusters.py iterative min-label
    propagation; the oracle computes the same components via a DuckDB
    recursive-CTE transitive closure — feasible at oracle scale, where
    the pair graph is tiny). Output: (id, cluster=min reachable id)."""
    from sparkcheck.dedup import connected_components

    pairs = jaccard_pairs(_t(spark, sf, "documents"), k=3, threshold=0.2)
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster").cast("long").alias("cluster"),
    )


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_signatures(_t(spark, sf, "documents"), k=3, num_hashes=4)


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """The full corpus-dedup pipeline: MinHash signatures → LSH band
    candidates → exact-Jaccard verification — oracle-mirrored end to end."""
    from sparkcheck.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _t(spark, sf, "documents"), k=3, num_hashes=8, rows_per_band=2,
        threshold=0.2, max_bucket=None,
    )


def q_simhash_bits(spark: SparkSession, sf: str) -> DataFrame:
    sh = simhash(_t(spark, sf, "documents"), bits=8)
    return _longify(sh, [f"bit_{i}" for i in range(8)])


def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # banded=True is the scale path (pigeonhole segments → candidates,
    # provably lossless for hamming ≤ nseg-1), so the plain quadratic
    # oracle SQL still matches. 32 bits ⇒ 8-bit segments ⇒ 256-way
    # buckets — candidate volume stays subquadratic.
    out = simhash_near_duplicates(
        _t(spark, sf, "documents"), bits=32, max_hamming=3, banded=True
    )
    return _longify(out, ["hamming"])


def q_embedding_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Banded random-hyperplane-LSH near-duplicate pairs — the scale
    path (bounded per-bucket joins + hot-bucket cap, never all-pairs).
    Hyperplanes are md5-derived Gaussian constants, so the oracle
    reproduces the exact same projections from the same literals; the
    hot-bucket cap is mirrored in the oracle SQL too. The exact variant
    stays available as embedding_near_duplicates(bucketed=False)."""
    # threshold 0.4: the synthetic embeddings are near-orthogonal (max
    # pairwise cosine ≈ 0.51), so 0.4 yields a small non-empty pair
    # set. Low threshold ⇒ small bands (p_bit ≈ 0.63 ⇒ bits=4) with
    # b=8 bands for ~75% recall at the threshold boundary.
    return embedding_near_duplicates(
        _t(spark, sf, "embeddings"),
        threshold=0.4,
        bucketed=True,
        dim=64,
        bands=8,
        bits=4,
        seed=1,
        max_bucket=1000,
    )


def q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return _longify(out, ["rank"])


def q_ann_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = cosine_topk_bucketed(emb, queries, k=5, bucket_dims=4)
    return _longify(out, ["rank"])


def q_unique_violation_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-key groups with multiplicity (SURVEY §2.4 uniqueness
    violation count, §2.2 unique rule keep=False semantics)."""
    from sparkcheck.integrity import duplicate_key_counts

    return duplicate_key_counts(_t(spark, sf, "documents"), ["source", "lang"])


def q_unique_violation_rows(spark: SparkSession, sf: str) -> DataFrame:
    """All copies of duplicated (source, lang) keys — broadcast semi-join
    against the dup-key set (no window over the big table)."""
    from sparkcheck.integrity import duplicate_violation_rows

    out = duplicate_violation_rows(
        _t(spark, sf, "documents"), ["source", "lang"], extra_cols=("doc_id",)
    )
    # partition_id is Spark lineage — engine-specific, excluded from the
    # cross-engine comparison
    return out.drop("partition_id")


def q_null_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column null counts for every orders column in ONE agg
    (profiler null/% stats, analyzer.py:77-101)."""
    o = _t(spark, sf, "orders")
    cols = o.columns
    aggs = [F.count(F.lit(1)).alias("total_rows")] + [
        F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(f"n_{c}")
        for c in cols
    ]
    one = o.agg(*aggs)
    stack = ", ".join(f"'{c}', `n_{c}`" for c in cols)
    return one.selectExpr(
        "total_rows", f"stack({len(cols)}, {stack}) as (column, n_nulls)"
    ).select("column", "n_nulls", "total_rows")


def q_string_length_stats(spark: SparkSession, sf: str) -> DataFrame:
    """String length stats (analyzer.py:131-137)."""
    d = _t(spark, sf, "documents")
    ln = F.length(F.col("text")).cast("long")
    return d.agg(
        F.count("text").alias("n"),
        F.min(ln).alias("min_len"),
        F.max(ln).alias("max_len"),
        F.round(F.avg(ln), 4).alias("avg_len"),
    )


def q_temporal_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal min/max + span (analyzer.py:143-145 semantics)."""
    e = _t(spark, sf, "events")
    return e.agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.round(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            / F.lit(86400.0),
            4,
        ).alias("span_days"),
    )


def q_orphan_recent_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Date-filtered RI (validations.yaml:115-124 shape: orphan check
    restricted to recent rows — partition-pruning-friendly at scale)."""
    o = _t(spark, sf, "orders").where(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return orphan_summary(o, "o_custkey", _t(spark, sf, "customer"), "c_custkey",
                          broadcast_parent=True)


def q_arrow_custom_rule(spark: SparkSession, sf: str) -> DataFrame:
    """CustomRule = the Arrow-batched pandas-UDF path (§2.10): a
    vectorized Series→Series predicate, never per-row Python. The
    predicate (user_id even) is mirrored in SQL so even the UDF path is
    oracle-checked."""
    from sparkcheck.rules.models import CustomRule

    def user_id_even(s):
        return (s % 2) == 0

    rule = CustomRule(name="uid_even", column="user_id", func=user_id_even)
    return summary_df(_t(spark, sf, "events"), [rule])


def q_data_type_conformance(spark: SparkSession, sf: str) -> DataFrame:
    """DataTypeRule (§2.2 data_type — declared but unimplemented in the
    reference): cast-conformance via try_cast."""
    from sparkcheck.rules.models import DataTypeRule

    rules = [
        DataTypeRule(name="props_not_numeric", column="props", expected_type="double"),
        DataTypeRule(name="value_is_numeric", column="value", expected_type="double"),
    ]
    return summary_df(_t(spark, sf, "events"), rules)


def q_category_set_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Categorical value-set diff (§2.7 set ops; reporting/
    analyzer.py:571-580 semantics): values present in the baseline slice
    but missing from the current slice, and vice versa — exceptAll on
    distinct-value frames (tiny after the distinct)."""
    e = _t(spark, sf, "events")
    base = e.select("event_type").distinct()
    cur = e.where(F.col("value") > 480).select("event_type").distinct()
    gone = base.exceptAll(cur).select(
        F.col("event_type").alias("value"), F.lit("missing_in_current").alias("change")
    )
    new = cur.exceptAll(base).select(
        F.col("event_type").alias("value"), F.lit("new_in_current").alias("change")
    )
    return gone.unionByName(new)


def q_daily_event_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Time-bucketed aggregation (§2.8 date/time + §2.4): per-day event
    counts, mean value, distinct users — the rollup shape of the
    reference's trend analysis inputs. One shuffle on the day key."""
    e = _t(spark, sf, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        e.groupBy(day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # +1e-9 on BOTH sides: an avg of 2-dp values can land exactly
            # on a .00005 decimal midpoint where Spark's and DuckDB's
            # round() disagree (hit at sf0.001); the nudge is identical
            # in the oracle and far above double representation error.
            F.round(F.avg("value") + F.lit(1e-9), 4).alias("avg_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def q_profile_delta_drift(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's Δ-threshold drift comparison (profiler/
    analyzer.py:370-443): profile two time slices in ONE conditional-agg
    scan, flag when |Δ null%| or |Δ distinct%| exceeds 5 points."""
    e = _t(spark, sf, "events")
    base = (F.col("ts") < F.lit("2024-01-16")).cast("long")
    cur = F.lit(1) - base

    def stats(side: F.Column, c: str, tag: str):
        n = F.sum(side)
        nn = F.sum(side * F.col(c).isNotNull().cast("long"))
        ndv = F.count_distinct(F.when(side == 1, F.col(c)))
        return [
            F.round((n - nn) * 100.0 / n, 4).alias(f"null_pct_{tag}"),
            F.round(ndv * 100.0 / n, 4).alias(f"uniq_pct_{tag}"),
        ]

    out = e.agg(*stats(base, "value", "base"), *stats(cur, "value", "cur"))
    return out.select(
        F.lit("value").alias("column"),
        "null_pct_base", "null_pct_cur", "uniq_pct_base", "uniq_pct_cur",
        (F.abs(F.col("null_pct_cur") - F.col("null_pct_base")) > 5.0).cast("int").alias("null_drift"),
        (F.abs(F.col("uniq_pct_cur") - F.col("uniq_pct_base")) > 5.0).cast("int").alias("uniq_drift"),
    )


def q_sessionization(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (§2.5 windows): sessions = runs of events
    per user with < 600s gaps; returns per-user session counts + the
    longest session length. lag + conditional cumsum — two window passes
    over one shuffle on user_id."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap >= 600), 1).otherwise(0)
    sessions = e.select(
        "user_id", "ts", "event_id", new_session.alias("ns")
    ).withColumn("session_id", F.sum("ns").over(w))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


def q_json_extract_stats(spark: SparkSession, sf: str) -> DataFrame:
    """JSON scalar functions (§2.8): extract a typed field from the
    events.props JSON column and aggregate it — pushdown-friendly
    (get_json_object is codegen'd; no UDF)."""
    e = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.agg(
        F.count(k).alias("n_with_k"),
        F.coalesce(F.sum(k), F.lit(0)).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    out = token_stats(_t(spark, sf, "documents"))
    return _longify(out, ["n_tokens", "n_subtokens", "n_distinct_tokens"])


def q_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    return quality_score(_t(spark, sf, "documents"))


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    out = lang_id(_t(spark, sf, "documents"))
    return _longify(out, [f"hits_{lng}" for lng in STOPWORDS])


def q_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    return fingerprint(_t(spark, sf, "documents"))


def q_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    return gopher_quality_flags(_t(spark, sf, "documents"))


def q_top_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus n-gram statistics: top-20 word bigrams with doc frequency —
    the standard corpus-inspection op (and the input to stopword-phrase
    discovery for the LSH hot-bucket cap). One explode + one groupBy."""
    from sparkcheck.dedup.jaccard import shingles_from_tokens

    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    grams = d.select(
        F.col("doc_id"), F.split(F.col("text"), " ").alias("_toks")
    ).select(
        F.col("doc_id"), F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("occurrences"), F.asc("bigram"))
        .limit(20)
    )


def q_dup_segment_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher duplicate-segment fraction (map-only) — applied at word
    granularity since the synthetic docs are single-line."""
    from sparkcheck.textstats import duplicate_segment_stats

    return duplicate_segment_stats(_t(spark, sf, "documents"), delimiter=" ")


def q_chi2_lang_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson chi-square homogeneity between two corpus slices'
    categorical lang distributions (drift/stats.py::chi2_from_counts
    semantics expressed as ONE plan): per-(category) paired counts →
    broadcast slice totals → per-category terms → one-row statistic.
    Bounded shuffle (≤ categories rows); the p-value lookup is driver
    math (chi2_pvalue) and not part of the oracle-checked frame."""
    from pyspark.sql import functions as F

    d = _t(spark, sf, "documents")
    counts = (
        d.where(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(
            F.sum((F.col("doc_id") % 2 == 0).cast("long")).alias("e"),
            F.sum((F.col("doc_id") % 2 == 1).cast("long")).alias("a"),
        )
    )
    totals = counts.agg(
        F.sum("e").cast("double").alias("n_e"), F.sum("a").cast("double").alias("n_a")
    )
    j = counts.crossJoin(F.broadcast(totals)).where((F.col("e") + F.col("a")) > 0)
    t = F.col("n_e") + F.col("n_a")
    exp_e = (F.col("e") + F.col("a")) * F.col("n_e") / t
    exp_a = (F.col("e") + F.col("a")) * F.col("n_a") / t
    term = (F.col("e") - exp_e) ** 2 / exp_e + (F.col("a") - exp_a) ** 2 / exp_a
    return j.agg(
        F.round(F.sum(term), 4).alias("statistic"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
    )


def q_cross_doc_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicated-span fraction (Lee et al. '22 style
    span dedup over non-overlapping 6-word blocks): per-doc share of
    blocks that also appear in ≥2 other docs — corpus boilerplate.
    In-row array_distinct (no (doc,block) shuffle), map-side-combined
    block counts, 1:N join back (AQE skew-split absorbs hot blocks)."""
    from sparkcheck.textstats import cross_doc_span_stats

    return cross_doc_span_stats(_t(spark, sf, "documents"), k=6, min_docs=2)


def q_span_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-decontamination check: corpus docs (doc_id % 10 != 0)
    scored by the fraction of their 6-word spans appearing anywhere in
    a 'benchmark' split (doc_id % 10 == 0). One scan per table, no
    self-join; the benchmark span set is distinct + AQE-broadcastable."""
    from pyspark.sql import functions as F

    from sparkcheck.textstats import span_contamination

    docs = _t(spark, sf, "documents")
    return span_contamination(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
        k=6,
    )


def q_host_stats(spark: SparkSession, sf: str) -> DataFrame:
    """URL-host skew analytics (the north rule's named skew surface):
    per-host doc counts + EXACT distinct-url counts via the salted
    two-phase aggregation. The url column is derived deterministically
    with a planted hot host (50% of docs) so the skew path is exercised."""
    from sparkcheck.webtext import host_stats

    d = _t(spark, sf, "documents")
    key = F.col("doc_id")
    host = F.when(key % 2 == 0, F.lit("hot.example")).otherwise(
        F.concat(F.lit("h"), (key % 37).cast("string"), F.lit(".example"))
    )
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), key.cast("string"))
    return host_stats(d.select(url.alias("url")), k=10, salted=True)


def q_fk_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """FK-candidate inference via inclusion dependencies
    (integrity/fk.py — closes the reference's schema_introspector
    PK/FK surface for catalog-less parquet): distinct-vs-distinct
    anti-joins over three true TPC-H relationships plus one planted
    non-FK, with containment evidence per pair."""
    from sparkcheck.integrity import infer_foreign_keys

    tables = {n: _t(spark, sf, n) for n in ("orders", "customer", "lineitem",
                                            "part", "nation")}
    return infer_foreign_keys(
        tables,
        keys={"customer": "c_custkey", "part": "p_partkey",
              "nation": "n_nationkey"},
        candidates=[
            ("orders", "o_custkey", "customer"),      # true FK
            ("lineitem", "l_partkey", "part"),        # true FK
            ("customer", "c_nationkey", "nation"),    # true FK
            ("orders", "o_orderkey", "customer"),     # NOT an FK
        ],
    )


def q_canonical_urls(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization (webtext/urls.py — the dedup-key normalizer):
    messy URLs synthesized deterministically from doc_id (mixed-case
    scheme+host, default port, tracking params, fragment, www prefix)
    are canonicalized map-only; the oracle rebuilds the identical bytes
    with the same regexp decomposition in SQL."""
    from sparkcheck.webtext import canonicalize_url

    d = _t(spark, sf, "documents")
    key = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (key % 7).cast("string"), F.lit(".COM"),
        F.when(key % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(key % 3 == 0, F.lit("/")).otherwise(
            F.concat(F.lit("/p/"), key.cast("string"))
        ),
        F.when(key % 2 == 0, F.lit("?utm_source=x&b=2&a=1")).otherwise(F.lit("")),
        F.when(key % 4 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    base = d.select("doc_id", url.alias("url"))
    return base.select(
        "doc_id", "url",
        canonicalize_url(F.col("url"), strip_www=True).alias("canonical_url"),
    )


def q_url_dedup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Canonicalization merge pre-flight (webtext.url_dedup_stats):
    two-phase distinct counting over the same synthesized messy URLs as
    canonical_urls — one groupBy(url) + a single-distinct agg, never the
    Expand-planning mixed-distinct shape."""
    from sparkcheck.webtext import url_dedup_stats

    d = _t(spark, sf, "documents")
    key = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (key % 7).cast("string"), F.lit(".COM"),
        F.when(key % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(key % 3 == 0, F.lit("/")).otherwise(
            F.concat(F.lit("/p/"), key.cast("string"))
        ),
        F.when(key % 2 == 0, F.lit("?utm_source=x&b=2&a=1")).otherwise(F.lit("")),
        F.when(key % 4 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return url_dedup_stats(d.select(url.alias("url")), strip_www=True)


def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingest dedup (dedup.incremental_near_duplicates):
    a synthetic 'new batch' (every 10th doc, re-keyed +100000) probes
    the corpus's LSH band index with one cross-frame equi-join — cost
    scales with the batch, never a corpus self-join. The oracle
    reproduces signatures, bands, the cross join and the exact-Jaccard
    verify byte-for-byte."""
    from sparkcheck.dedup import incremental_near_duplicates

    d = _t(spark, sf, "documents")
    new = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return incremental_near_duplicates(
        new, d, k=3, num_hashes=8, rows_per_band=2, threshold=0.5,
        max_bucket=None,
    )


def q_span_dedup_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """Span-dedup REWRITE (textstats.remove_duplicate_spans — the
    transform half of Lee et al. '22): 6-word blocks shared by ≥2
    distinct docs removed from every doc, survivors + trailing
    remainder re-joined; byte-compared against the oracle's identical
    reconstruction."""
    from sparkcheck.textstats import remove_duplicate_spans

    return remove_duplicate_spans(_t(spark, sf, "documents"), k=6, min_docs=2)


def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher repetition rule: top-bigram fraction per doc + flag
    (textstats.repetition_stats) — the boilerplate/spam pre-filter."""
    from sparkcheck.textstats import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"), n=2)


def q_sql_testsuite(spark: SparkSession, sf: str) -> DataFrame:
    """SQL unit-test framework e2e (the reference's namesake feature,
    sql_testing/executor.py + fixtures.py + assertions/engine.py): a
    5-test suite over parquet + inline fixtures — row_count, is_unique,
    in_range, schema_matches, tolerance-equals, and a deliberately
    failing is_empty — executed by SparkTestRunner with per-test session
    isolation; emits one verdict row per test. The oracle recomputes
    every assertion in ANSI SQL."""
    from sparkcheck.testing import (
        SparkTestRunner,
        SQLTestCase,
        SQLTestSuite,
        TestAssertion,
        TestFixture,
    )

    pq = lambda tbl: TestFixture(  # noqa: E731
        name=tbl, table_name=f"_sx_{tbl}", fixture_type="parquet",
        data_source=f"{sf}/{tbl}.parquet",
    )
    users = TestFixture(
        name="users", table_name="_sx_users", fixture_type="inline",
        data_source=[{"id": 1, "age": 30}, {"id": 2, "age": 25}, {"id": 3, "age": 35}],
        schema="id int, age int",
    )
    suite = SQLTestSuite(
        name="driver_contract_suite",
        tests=(
            SQLTestCase(
                name="region_row_count",
                sql="SELECT r_regionkey, r_name FROM _sx_region",
                fixtures=(pq("region"),),
                assertions=(
                    TestAssertion("row_count", params={"expected_count": 5}),
                    TestAssertion("is_unique", params={"column": "r_regionkey"}),
                    TestAssertion("schema_matches",
                                  params={"expected_columns": ["r_regionkey", "r_name"]}),
                ),
            ),
            SQLTestCase(
                name="orders_pk_unique",
                sql="SELECT o_orderkey FROM _sx_orders",
                fixtures=(pq("orders"),),
                assertions=(
                    TestAssertion("is_unique", params={"column": "o_orderkey"}),
                    TestAssertion("row_count", params={"min_count": 1}),
                ),
            ),
            SQLTestCase(
                name="totalprice_range",
                sql="SELECT o_totalprice FROM _sx_orders",
                fixtures=(pq("orders"),),
                assertions=(TestAssertion(
                    "in_range", params={"column": "o_totalprice", "min": 0, "max": 1000000}),),
            ),
            SQLTestCase(
                name="inline_users_avg",
                sql="SELECT AVG(age) AS avg_age FROM _sx_users",
                fixtures=(users,),
                assertions=(TestAssertion("equals", expected=30.0, tolerance=0.001),),
            ),
            SQLTestCase(
                name="orders_expected_empty",  # deliberately FAILS
                sql="SELECT o_orderkey FROM _sx_orders LIMIT 10",
                fixtures=(pq("orders"),),
                assertions=(TestAssertion("is_empty"),),
            ),
        ),
    )
    res = SparkTestRunner(spark).execute_suite(suite)
    rows = [
        (r.test_name, r.status.value, len(r.assertion_results),
         sum(1 for a in r.assertion_results if a.passed))
        for r in res.test_results
    ]
    return spark.createDataFrame(
        rows, "test_name string, status string, n_assertions bigint, n_passed bigint"
    )


def _planted_pii(spark: SparkSession, sf: str) -> DataFrame:
    """Documents with deterministically planted PII (the synthetic corpus
    contains none): emails on doc_id%5, SSNs on %7, IPs on %11."""
    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    key = F.col("doc_id")
    t2 = F.concat(
        F.col("text"),
        F.when(key % 5 == 0,
               F.concat(F.lit(" contact user"), key.cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(key % 7 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
        F.when(key % 11 == 0, F.lit(" from 10.0.0.1")).otherwise(F.lit("")),
    )
    return d.select("doc_id", t2.alias("text"))


def q_pii_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc PII detection counts (email/ssn/phone/ip) — map-only,
    the audit stage of corpus scrubbing."""
    from sparkcheck.textstats import pii_stats

    return pii_stats(_planted_pii(spark, sf))


def q_pii_redacted(spark: SparkSession, sf: str) -> DataFrame:
    """Byte-verifiable PII redaction: md5 of the scrubbed text per doc."""
    from sparkcheck.textstats import pii_redact

    return pii_redact(_planted_pii(spark, sf)).select("doc_id", "redacted_md5")


def q_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical dedup: keep the best doc per exact-text group (struct-max
    groupBy, no window). Duplicate copies are planted for doc_id%10 with
    shifted quality so both kept-original and kept-copy paths occur."""
    from sparkcheck.dedup import keep_best_per_group

    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    base = d.select(
        F.col("doc_id"), F.md5("text").alias("grp"),
        F.col("n_chars").cast("long").alias("quality"),
    )
    copies = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.md5("text").alias("grp"),
        (F.col("n_chars") + F.when(F.col("doc_id") % 20 == 0, 10).otherwise(-10))
        .cast("long").alias("quality"),
    )
    out = keep_best_per_group(base.unionByName(copies), "grp", "quality")
    return out.select(
        "group_key", "kept_id", "best_quality",
        F.col("group_size").cast("long").alias("group_size"),
    )


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic dataset mixing (sampling.stratified_sample): keep a
    per-language fraction of the documents table via the md5-threshold
    construction — reproducible at any parallelism AND in the oracle
    (md5 hex compares identically in both engines). en down-weighted,
    de kept fully, everything else at the default rate."""
    from sparkcheck.sampling import stratified_sample

    d = _t(spark, sf, "documents")
    out = stratified_sample(
        d, {"en": 0.5, "de": 1.0}, strata_col="lang", id_col="doc_id",
        default_rate=0.25, seed=1,
    )
    return out.select("doc_id", "lang")


def q_dedup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The ENTIRE one-call dedup pipeline, oracle-verified end-to-end:
    exact md5 dedup → MinHash-LSH candidates → exact-Jaccard verify →
    connected components → keep-best-by-quality — the DuckDB side
    recomputes every stage (recursive-CTE closure for the components)
    and the surviving doc_id sets must hash-match. hash_fn='md5' for
    engine parity; max_bucket=None (the oracle-scale pair graph has no
    hot buckets; the capped path is oracle-checked via
    dedup_minhash_lsh + incremental_dedup)."""
    from sparkcheck.dedup import dedup_corpus

    out = dedup_corpus(
        _t(spark, sf, "documents"), text_col="text", id_col="doc_id",
        quality_col="n_chars", threshold=0.5, num_hashes=8,
        rows_per_band=2, max_bucket=None, hash_fn="md5",
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_deterministic_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Single-rate deterministic sample (sampling.deterministic_sample)
    — the md5-threshold keep rule on its own, oracle-gated so the
    engine/oracle hash parity of the non-stratified path is checked
    directly (CLAUDE.md operator rule)."""
    from sparkcheck.sampling import deterministic_sample

    d = _t(spark, sf, "documents")
    return deterministic_sample(d, 0.35, id_col="doc_id", seed=7).select(
        "doc_id", "source"
    )


def q_packed_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-then-chunk sequence packing (sampling.pack_sequences):
    documents ordered by id within each language shard, cut into
    4096-char budget sequences — (seq_id, seq_offset) per doc from one
    exclusive-prefix-sum window."""
    from sparkcheck.sampling import pack_sequences

    d = _t(spark, sf, "documents").where(F.col("lang").isNotNull())
    out = pack_sequences(
        d, token_col="n_chars", budget=4096, id_col="doc_id", shard_col="lang"
    )
    return out.select("doc_id", "lang", "seq_id", "seq_offset")


def q_sample_to_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Mixing by TARGET TOKEN BUDGET (sampling.sample_to_budget): keep
    rates are DERIVED from per-language token totals (rate =
    min(1, budget/total)) rather than hand-passed — the '600B tokens at
    40/30/30' ask. en is deliberately over-asked (budget 10^9 ≫
    available ⇒ rate 1.0 + documented shortfall). The oracle re-derives
    the rates from the same table and reproduces the selection exactly:
    the keep rule compares the first 13 hex digits of the sampling hash
    (exact 52-bit integer in both engines) against rate·2^52, and every
    arithmetic step is the same correctly-rounded IEEE double op."""
    from sparkcheck.sampling import sample_to_budget

    d = _t(spark, sf, "documents")
    out = sample_to_budget(
        d, {"en": 10**9, "de": 8000, "fr": 5000},
        token_col="n_chars", strata_col="lang", id_col="doc_id", seed=7,
    )
    return out.select("doc_id", "lang")


def q_packed_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """SEQUENCE-major packing manifest (sampling.pack_spans): one row
    per (sequence, doc-slice) with the slice's position in the
    sequence and the doc token range it takes — including docs SPLIT
    across sequence boundaries, which packed_sequences only implies.
    Same shards/budget as packed_sequences; the oracle re-derives the
    spans from the same prefix-sum window plus a generate_series
    explode."""
    from sparkcheck.sampling import pack_spans

    d = _t(spark, sf, "documents").where(F.col("lang").isNotNull())
    out = pack_spans(
        d, token_col="n_chars", budget=4096, id_col="doc_id", shard_col="lang"
    )
    return out.select(
        "lang", "seq_id", "seq_pos", "doc_id", "take_from", "take_len"
    )


def q_shuffle_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded global shuffle (sampling.deterministic_shuffle): every
    doc gets a (shard_id, shard_pos) from hash-keyed shard assignment
    plus a per-shard rank over disjoint md5 digits — a fixed
    pseudorandom training order, reproducible at any parallelism. The
    oracle re-derives the identical permutation (md5 hex is
    engine-portable; the rank is a plain window)."""
    from sparkcheck.sampling import deterministic_shuffle

    d = _t(spark, sf, "documents")
    out = deterministic_shuffle(d, num_shards=8, id_col="doc_id", seed=3)
    return out.select("doc_id", "shard_id", "shard_pos")


def q_host_reputation(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level curation (webtext.host_reputation): per-host doc
    count + mean quality + keep verdict, C4/RefinedWeb-style. The url
    column is derived deterministically with a planted hot host (50%
    of docs, low quality → dropped wholesale) and a rare host (too few
    docs for the min_docs gate); quality values are small integers so
    per-host averages are EXACT in both engines and the keep flag
    cannot flip on summation order."""
    from sparkcheck.webtext import host_reputation

    d = _t(spark, sf, "documents")
    key = F.col("doc_id")
    host = (
        F.when(key % 997 == 0, F.lit("rare.example"))
        .when(key % 2 == 0, F.lit("hot.example"))
        .otherwise(
            F.concat(F.lit("h"), (key % 37).cast("string"), F.lit(".example"))
        )
    )
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), key.cast("string"))
    rep = host_reputation(
        d.select(url.alias("url"), (key % 4).cast("double").alias("quality")),
        quality_col="quality", min_docs=10, min_avg_quality=1.5,
    )
    return rep.select(
        "host",
        "n_docs",
        F.round("avg_quality", 6).alias("avg_quality"),
        F.col("keep").cast("int").alias("keep"),
    )


def q_assembled_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Packed layout materialized into ACTUAL training sequences
    (sampling.assemble_sequences): per (lang, seq_id), the budget-char
    concatenation of doc slices — docs sliced mid-text wherever they
    straddle a boundary. The oracle re-derives every slice with the
    same span arithmetic and string_aggs them in seq_pos order; md5 of
    the assembled content keeps compared rows small while pinning the
    bytes exactly."""
    from sparkcheck.sampling import assemble_sequences

    d = _t(spark, sf, "documents").where(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    out = assemble_sequences(d, "text", budget=4096, shard_col="lang")
    return out.select(
        "lang", "seq_id", "seq_tokens", F.md5("seq_content").alias("content_md5")
    )


def _two_snapshots(spark: SparkSession, sf: str):
    """Deterministic snapshot pair derived from the documents table:
    the OLD snapshot misses every 89th doc (those become 'added'), the
    NEW snapshot misses every 83rd ('removed'), every 97th doc's text
    is edited ('changed'; NULL text null-propagates through the edit
    in both engines, staying 'unchanged'), and every 79th doc moves to
    partition part+1 with unchanged content — the case that must
    touch BOTH partitions."""
    d = _t(spark, sf, "documents").where(F.col("doc_id").isNotNull())
    # integer DIV, not `/`: float division then cast would go inexact
    # past 2^53 (same invariant as the packer's prefix sums)
    part = F.expr("CAST(doc_id DIV 10 AS BIGINT)")
    old = d.where((F.col("doc_id") % 89) != 0).select(
        "doc_id", "text", "lang", part.alias("part")
    )
    new = d.where((F.col("doc_id") % 83) != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 97 == 0, F.concat(F.lit("EDIT:"), F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
        "lang",
        F.when(F.col("doc_id") % 79 == 0, part + 1).otherwise(part).alias("part"),
    )
    return old, new


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus snapshot versioning (versioning.snapshot_diff): per-id
    added/removed/changed/unchanged between two derived snapshots,
    fingerprinting (text, lang) with the NULL-sentinel md5. The oracle
    is the same full-outer join over the same fingerprints — chr(0)/
    chr(31) sentinels hash identically in both engines."""
    from sparkcheck.versioning import snapshot_diff

    old, new = _two_snapshots(spark, sf)
    out = snapshot_diff(old, new, content_cols=("text", "lang"))
    return out.select("doc_id", "status", "old_fp", "new_fp")


def q_revalidate_targets(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-revalidation work list (versioning.
    revalidate_targets): the DISTINCT partitions a validation run must
    revisit after the snapshot moved — added/changed partitions on the
    new side, removed on the old side, and BOTH sides of a doc whose
    partition value moved with unchanged content. Partitions are
    10-doc ranges so the result is a strict subset (discriminating,
    not 'all partitions')."""
    from sparkcheck.versioning import revalidate_targets

    old, new = _two_snapshots(spark, sf)
    return revalidate_targets(old, new, "part", content_cols=("text",))


def q_repeat_to_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-aware mixing (sampling.repeat_to_budget): de is over-asked
    (budget ≫ available ⇒ multiple FULL epochs + a deterministic
    remainder sample), fr under-asked (partial pass only). Every copy
    carries a 0-based epoch. The oracle re-derives full_epochs = B // T
    and the remainder threshold (B % T exact as BIGINT, one division,
    × 2^52) and explodes generate_series — the same integer-exact
    arithmetic, so the realization matches row-for-row."""
    from sparkcheck.sampling import repeat_to_budget

    d = _t(spark, sf, "documents")
    out = repeat_to_budget(
        d, {"de": 60000, "fr": 3000},
        token_col="n_chars", strata_col="lang", id_col="doc_id", seed=9,
    )
    return out.select("doc_id", "lang", F.col("epoch").cast("long").alias("epoch"))


def _corrupted_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """The embeddings table with deterministic planted vector
    failures (every mode the QA layer detects): NULL vectors
    (vec_id%97), truncated dim (%89 → 32 of 64), a NaN element (%83),
    all-zero vectors (%79). Both engines derive the identical
    corruption."""
    e = _t(spark, sf, "embeddings").where(F.col("vec_id").isNotNull())
    key = F.col("vec_id")
    vec = F.col("embedding")
    nan_first = F.concat(
        F.array(F.lit(float("nan")).cast("float")), F.slice(vec, 2, 63)
    )
    corrupted = (
        F.when(key % 97 == 0, F.lit(None).cast("array<float>"))
        .when(key % 89 == 0, F.slice(vec, 1, 32))
        .when(key % 83 == 0, nan_first)
        .when(key % 79 == 0, F.transform(vec, lambda x: F.lit(0.0).cast("float")))
        .otherwise(vec)
    )
    return e.select("vec_id", corrupted.alias("embedding"))


def q_embedding_violation_rows(spark: SparkSession, sf: str) -> DataFrame:
    """Vector QA violation rows with lineage (profile.embeddings
    .embedding_violations): per-row NULL / wrong-dim / NaN /
    null-element / zero flags + the L2 norm (NULL when invalid),
    over the corrupted variant. Norms rounded to 4 — per-row fold
    order is identical in both engines (left fold over the array)."""
    from sparkcheck.profile import embedding_violations

    v = embedding_violations(
        _corrupted_embeddings(spark, sf), expected_dim=64
    )
    # NULL dim/norm → sentinels IN THE QUERY ONLY: the gate's row sort
    # compares tuples across columns and Python None breaks ties
    return v.select(
        "vec_id",
        F.coalesce(F.col("dim"), F.lit(-1)).alias("dim"),
        F.col("is_null").cast("int").alias("is_null"),
        F.col("bad_dim").cast("int").alias("bad_dim"),
        F.col("has_nan").cast("int").alias("has_nan"),
        F.col("is_zero").cast("int").alias("is_zero"),
        F.coalesce(F.round("norm", 4), F.lit(-1.0)).alias("norm"),
    )


def q_embedding_quality(spark: SparkSession, sf: str) -> DataFrame:
    """ONE-row embedding-column profile (profile.embeddings
    .embedding_profile): failure-mode counts + norm stats restricted
    to the VALID subset (so one failed encode can't NaN the profile).
    Stats rounded to 4 (coarser than scalar profiles: cross-engine
    summation order differs on the norm aggregate)."""
    from sparkcheck.profile import embedding_profile

    p = embedding_profile(_corrupted_embeddings(spark, sf), expected_dim=64)
    return p.select(
        "n_rows",
        "null_vecs",
        "bad_dim_vecs",
        "nan_vecs",
        "zero_vecs",
        "valid_vecs",
        F.round("norm_mean", 4).alias("norm_mean"),
        F.round("norm_std", 4).alias("norm_std"),
        F.round("norm_min", 4).alias("norm_min"),
        F.round("norm_max", 4).alias("norm_max"),
    )


def q_embedding_dim_means(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension mean/std drift baseline (profile.embeddings
    .embedding_dim_profile) over valid vectors of the corrupted
    variant — 64 rows out; map-side partials keep the shuffle
    O(partitions × dim)."""
    from sparkcheck.profile import embedding_dim_profile

    out = embedding_dim_profile(
        _corrupted_embeddings(spark, sf), expected_dim=64
    )
    return out.select(
        "dim_idx",
        F.round("mean", 5).alias("mean"),
        F.round("std", 5).alias("std"),
        "n",
    )


def q_select_top_by_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-ranked selection under a token budget (sampling.
    select_top_by_budget): keep the highest-scoring docs until 60k of
    the corpus's ~149k chars are spent — whole bins top-down, a
    deterministic hash fraction of the single boundary bin, nothing
    below. Score = doc length (engine-portable stand-in for a model
    score; the machinery is score-agnostic). The oracle re-derives
    lo/hi, the 100-bin histogram, the top-down cumulative masses, and
    the boundary rate with the identical double arithmetic."""
    from sparkcheck.sampling import select_top_by_budget

    d = _t(spark, sf, "documents").withColumn(
        "score", F.col("n_chars").cast("double")
    )
    out = select_top_by_budget(
        d, 60000, "score", "n_chars", id_col="doc_id", bins=100, seed=11
    )
    return out.select("doc_id")


def q_curated_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The ENTIRE post-dedup curation layer as ONE verified unit
    (mirroring dedup_corpus's whole-pipeline oracle): hashed-unigram
    classifier scores → quality-ranked selection under a 60k-token
    budget (ranking on the LOGIT scale — exact-integer-derived, no
    libm in the binning) → seeded 4-shard global shuffle → 2048-token
    sequence packing in SHUFFLED order (pack id = shard_pos). Output:
    every surviving doc's training-layout coordinates
    (shard_id, shard_pos, seq_id, seq_offset). The oracle composes the
    same four stages in one SQL query — classifier fold, histogram
    threshold, md5 permutation, prefix-sum packing — and matches
    row-for-row."""
    from sparkcheck.sampling import (
        deterministic_shuffle,
        pack_sequences,
        select_top_by_budget,
    )
    from sparkcheck.textstats.classifier import classifier_score

    d = _t(spark, sf, "documents")
    scored = classifier_score(
        d, _CLF_W, bias=-0.2, bigrams=False, seed=5, logits_col="logit"
    )
    selected = select_top_by_budget(
        scored, 60000, "logit", "n_chars", id_col="doc_id", bins=100, seed=11
    )
    shuffled = deterministic_shuffle(selected, num_shards=4, seed=13)
    packed = pack_sequences(
        shuffled, "n_chars", 2048, id_col="shard_pos", shard_col="shard_id"
    )
    return packed.select(
        "doc_id", "shard_id", "shard_pos", "seq_id", "seq_offset"
    )


# deterministic demo weights for the classifier oracle — 64 buckets,
# values in [-0.5, 0.5); the oracle embeds the same micro-unit ints
_CLF_W = [((i * 37) % 101) / 100.0 - 0.5 for i in range(64)]


def q_classifier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering (textstats.classifier): hashed
    unigram linear scorer, fastText-style — bucket = 52-bit md5 fold
    mod 64, weights in integer micro-units so the per-doc accumulation
    is an exact BIGINT sum (summation-order-proof), one sigmoid per doc
    at the end. Map-only plan; the oracle mirrors the digit fold inside
    a list lambda. Bigram terms are covered by pytest (DuckDB-side
    bigram construction is not worth the oracle complexity)."""
    from sparkcheck.textstats.classifier import classifier_score

    d = _t(spark, sf, "documents")
    out = classifier_score(d, _CLF_W, bias=-0.2, bigrams=False, seed=5)
    return out.select(
        "doc_id", F.round("clf_score", 6).alias("clf_score")
    )


def q_kmeans_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding topic clustering (similarity.kmeans): deterministic
    Lloyd k-means, k=4, 2 iterations, hash-seeded init — the DCLM /
    FineWeb-style cluster-based-curation step. The ENTIRE training
    loop is engine-portable (micro-int coordinate grid → exact BIGINT
    per-dim sums → identical centroids; index-ordered distance folds →
    identical argmins), so the oracle re-derives fit AND assignment,
    not just the final map. Assignment is map-only (literal centroid
    array + array_min argmin); each iteration shuffles only k x dim
    partial sums."""
    from sparkcheck.similarity.kmeans import kmeans_cluster

    d = _t(spark, sf, "embeddings")
    # engine="column": the interpreted index-ordered folds are the
    # engine-portable arithmetic this oracle mirrors; the arrow engine
    # (library default — ~11× fit, ~14× assign) reassociates the fold
    # and may flip exact-distance ties
    return kmeans_cluster(
        d, k=4, n_iter=2, seed=3, keep_cols=("label",), engine="column"
    )


def q_distinctive_terms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF distinctive terms per source (textstats.analysis.
    distinctive_terms) — the C4-paper-style 'what is in this source'
    corpus inspection. tf and df are exact BIGINTs; the one ln() per
    term is micro-rounded BEFORE multiplying by tf, so tfidf_micro is
    engine-portable; ranking (score desc, term asc) over the
    aggregated O(groups x vocab) frame."""
    from sparkcheck.textstats.analysis import distinctive_terms

    d = _t(spark, sf, "documents")
    return distinctive_terms(d, "source", top_k=3)


def q_nb_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """The model-based quality filter TRAINED in-engine
    (textstats.classifier.train_nb_classifier): multinomial Naive
    Bayes on the hashed unigram buckets, label = (lang = 'en'),
    then classifier_score inference with the trained weights.
    Counts are exact BIGINTs (one O(dim) groupBy); weights and bias
    are micro-quantized before use, so DuckDB re-derives TRAINING and
    INFERENCE in one statement."""
    from sparkcheck.textstats.classifier import (
        classifier_score,
        train_nb_classifier,
    )

    d = _t(spark, sf, "documents")
    labeled = d.withColumn("_y", (F.col("lang") == "en").cast("int"))
    w, b = train_nb_classifier(
        labeled, "_y", dim=64, bigrams=False, seed=5
    )
    return classifier_score(
        d.where(F.col("text").isNotNull()), w, bias=b, bigrams=False, seed=5
    ).select("doc_id", F.round("clf_score", 6).alias("clf_score"))


def q_doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (textstats.analysis.
    chunk_documents): max 16 tokens, overlap 4 — context-window
    enforcement / RAG chunking. Map-only (sequence + transform + one
    explode); exact integer window arithmetic mirrored in SQL."""
    from sparkcheck.textstats.analysis import chunk_documents

    d = _t(spark, sf, "documents")
    return chunk_documents(d, max_tokens=16, overlap=4)


def q_corpus_splits(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test carving (sampling.split_corpus):
    disjoint hash intervals, exhaustive by construction, and a doc's
    split NEVER changes as the corpus grows — the property that keeps
    eval docs out of every future training set. Map-only."""
    from sparkcheck.sampling import split_corpus

    d = _t(spark, sf, "documents")
    return split_corpus(
        d, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=17
    ).select("doc_id", "source", "split")


def q_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-weighted mixing (sampling.temperature_sample, XLM-R
    style, T=2): rates ∝ sqrt(n_s)/n_s derived from the data, realized
    with the 52-bit numeric keep rule. The float normalizer's fold
    order is PINNED (ascending (n, stratum)) so DuckDB re-derives the
    identical double via an ordered list_reduce."""
    from sparkcheck.sampling import temperature_sample

    d = _t(spark, sf, "documents")
    return temperature_sample(
        d, "source", total_target=300, temperature=2.0, seed=19
    ).select("doc_id", "source")


def q_cluster_balanced(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-based curation END TO END: deterministic k-means topic
    clustering (q_kmeans_clusters' exact loop) then sampling.
    balance_groups — every cluster capped EXACTLY at the smallest
    cluster's size by the lowest-sampling-hash rule, so no topic
    dominates the mix. The oracle re-derives the whole composition:
    init + 2 Lloyd rounds + final assignment + min-cluster target +
    per-cluster rank. Driver-side state is O(k) counts only."""
    from sparkcheck.sampling import balance_groups
    from sparkcheck.similarity.kmeans import kmeans_cluster

    d = _t(spark, sf, "embeddings")
    # engine="column" for oracle parity — see q_kmeans_clusters
    assign = kmeans_cluster(
        d, k=4, n_iter=2, seed=3, keep_cols=("label",), engine="column"
    )
    return balance_groups(
        assign, "cluster_id", id_col="vec_id", seed=11
    ).select("vec_id", "label", "cluster_id")


def q_cap_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-domination cap (sampling.cap_per_group): keep the 10
    lowest-sampling-hash docs per source — C4-style per-host capping.
    The Spark plan buckets each group by the hash's first 2 hex digits
    and drops everything past the cap before any ranking (no mega-group
    window); the oracle uses the equivalent naive window because the
    bucketed rank IS the global (hash, id) rank."""
    from sparkcheck.sampling import cap_per_group

    d = _t(spark, sf, "documents")
    return cap_per_group(d, "source", 10, seed=7).select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality signal (textstats.lm): a 3-gram
    stupid-backoff model trained on the corpus's 'en' slice (the
    trusted-reference stand-in), every doc scored against it, then
    CCNet's head/middle/tail tercile per language (ntile over
    (perplexity, doc_id)). Per-position scores are BIGINT-count ratios
    (bit-identical across engines); ln() is rounded to integer
    micro-nats BEFORE the exact per-doc BIGINT sum, so logprob_micro
    is hash-stable and the only rounded floats are the two derived
    columns. Train = one explode + one groupBy; score = one explode +
    five broadcast joins + one groupBy with map-side partials."""
    from sparkcheck.textstats.lm import (
        perplexity_buckets,
        perplexity_scores,
        train_ngram_counts,
    )

    d = _t(spark, sf, "documents")
    counts = train_ngram_counts(d.where(F.col("lang") == "en"), n=3)
    scored = perplexity_scores(d, counts, n=3, keep_cols=("lang",))
    return perplexity_buckets(scored, by="lang").select(
        "doc_id", "lang", "n_tokens", "logprob_micro", "avg_logprob",
        "perplexity", F.col("ppl_bucket").cast("int").alias("ppl_bucket"),
    )


# Driver-sample rotation policy (VERDICT r4 "Next round" #6, now encoded
# rather than applied by hand): the external correctness gate samples the
# FIRST 50 queries() entries per round, so the dict is ordered by
# LAST-DRIVER-CHECKED round ascending — never-checked entries first, then
# the stalest evidence first; ties keep the canonical listing order below
# (sorted() is stable). Update this map each round from the keys present
# in CORRECTNESS_r{N}.json; entries absent from the map sort first.
_LAST_DRIVER_CHECKED: dict[str, int] = {
    # driver-checked green in round 5 (CORRECTNESS_r05.json)
    "embedding_near_dups": 5, "token_stats": 5, "quality_scores": 5,
    "lang_id": 5, "fingerprints": 5, "gopher_quality": 5,
    "simhash_bits": 5, "simhash_pairs": 5, "top_bigrams": 5,
    "pii_stats": 5, "ann_topk": 5, "ann_bucketed": 5, "sql_testsuite": 5,
    "host_stats": 6, "cross_doc_spans": 6, "chi2_lang_drift": 6,
    "span_contamination": 6, "pii_redacted": 6, "dedup_keep_best": 6,
    "repetition_stats": 6, "dup_segment_stats": 6, "fk_candidates": 6,
    "canonical_urls": 6, "url_dedup_stats": 5, "incremental_dedup": 5,
    "span_dedup_rewrite": 5, "rules_summary": 5, "profile_stats": 5,
    "histogram_totalprice": 5, "top_k_brand": 5, "bottom_k_type": 5,
    "uniqueness_orders": 5, "duplicate_doc_texts": 5, "orphan_orders": 5,
    "orphan_lineitem_part": 5, "completeness_events": 5,
    "pattern_rates": 5, "pattern_examples": 5, "iqr_outliers": 5,
    "anomaly_outliers": 5, "correlation": 5, "distribution_shape": 5,
    "trend_slope": 5, "psi_drift": 5, "ks_drift": 5,
    "reconcile_orders": 5,
    # riding on round-4 driver evidence (plus a judge rerun in the r5
    # session) — these lead the r6 ordering for fresh driver rows
    "unique_violation_groups": 6,
    "unique_violation_rows": 6, "null_counts": 6,
    "string_length_stats": 6, "temporal_profile": 6,
    "orphan_recent_orders": 6, "arrow_custom_rule": 6,
    "data_type_conformance": 6, "json_extract_stats": 6,
    "sessionization": 6, "profile_delta_drift": 6, "daily_event_stats": 6,
    "category_set_drift": 6, "dedup_jaccard": 6, "dedup_clusters": 6,
    "minhash_signatures": 6, "dedup_minhash_lsh": 6,
    "dedup_corpus": 5, "deterministic_sample": 5,
    "packed_sequences": 5, "stratified_sample": 5,
    # driver-checked green in round 6 (CORRECTNESS_r06.json)
    "assembled_sequences": 6, "cap_per_group": 6, "classifier_scores": 6,
    "cluster_balanced": 6, "corpus_splits": 6, "curated_corpus": 6,
    "distinctive_terms": 6, "doc_chunks": 6, "embedding_dim_means": 6,
    "embedding_quality": 6, "embedding_violation_rows": 6,
    "host_reputation": 6, "kmeans_clusters": 6, "lm_perplexity": 6,
    "nb_classifier_scores": 6, "packed_manifest": 6, "repeat_to_budget": 6,
    "revalidate_targets": 6, "sample_to_budget": 6,
    "select_top_by_budget": 6, "shuffle_shards": 6, "snapshot_diff": 6,
    "temperature_mix": 6,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        "host_stats": q_host_stats,
        "cross_doc_spans": q_cross_doc_spans,
        "chi2_lang_drift": q_chi2_lang_drift,
        "span_contamination": q_span_contamination,
        "pii_redacted": q_pii_redacted,
        "dedup_keep_best": q_dedup_keep_best,
        "repetition_stats": q_repetition_stats,
        "dup_segment_stats": q_dup_segment_stats,
        "fk_candidates": q_fk_candidates,
        "canonical_urls": q_canonical_urls,
        "url_dedup_stats": q_url_dedup_stats,
        "incremental_dedup": q_incremental_dedup,
        "span_dedup_rewrite": q_span_dedup_rewrite,
        "rules_summary": q_rules_summary,
        "profile_stats": q_profile_stats,
        "histogram_totalprice": q_histogram_totalprice,
        "top_k_brand": q_top_k_brand,
        "bottom_k_type": q_bottom_k_type,
        "uniqueness_orders": q_uniqueness_orders,
        "duplicate_doc_texts": q_duplicate_doc_texts,
        "orphan_orders": q_orphan_orders,
        "orphan_lineitem_part": q_orphan_lineitem_part,
        "completeness_events": q_completeness_events,
        "pattern_rates": q_pattern_rates,
        "pattern_examples": q_pattern_examples,
        "iqr_outliers": q_iqr_outliers,
        "anomaly_outliers": q_anomaly_outliers,
        "correlation": q_correlation,
        "distribution_shape": q_distribution_shape,
        "trend_slope": q_trend_slope,
        "psi_drift": q_psi_drift,
        "ks_drift": q_ks_drift,
        "reconcile_orders": q_reconcile_orders,
        "unique_violation_groups": q_unique_violation_groups,
        "unique_violation_rows": q_unique_violation_rows,
        "null_counts": q_null_counts,
        "string_length_stats": q_string_length_stats,
        "temporal_profile": q_temporal_profile,
        "orphan_recent_orders": q_orphan_recent_orders,
        "arrow_custom_rule": q_arrow_custom_rule,
        "data_type_conformance": q_data_type_conformance,
        "json_extract_stats": q_json_extract_stats,
        "sessionization": q_sessionization,
        "profile_delta_drift": q_profile_delta_drift,
        "daily_event_stats": q_daily_event_stats,
        "category_set_drift": q_category_set_drift,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "minhash_signatures": q_minhash_signatures,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "simhash_bits": q_simhash_bits,
        "simhash_pairs": q_simhash_pairs,
        "embedding_near_dups": q_embedding_near_dups,
        "ann_topk": q_ann_topk,
        "ann_bucketed": q_ann_bucketed,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "fingerprints": q_fingerprints,
        "gopher_quality": q_gopher_quality,
        "top_bigrams": q_top_bigrams,
        "sql_testsuite": q_sql_testsuite,
        "pii_stats": q_pii_stats,
        # new in round 5 — absent from _LAST_DRIVER_CHECKED, so they
        # sort first and get driver rows immediately
        "stratified_sample": q_stratified_sample,
        "deterministic_sample": q_deterministic_sample,
        "packed_sequences": q_packed_sequences,
        "dedup_corpus": q_dedup_corpus,
        # new in round 6 — absent from _LAST_DRIVER_CHECKED, so they
        # sort first and get driver rows immediately
        "sample_to_budget": q_sample_to_budget,
        "packed_manifest": q_packed_manifest,
        "shuffle_shards": q_shuffle_shards,
        "host_reputation": q_host_reputation,
        "assembled_sequences": q_assembled_sequences,
        "snapshot_diff": q_snapshot_diff,
        "revalidate_targets": q_revalidate_targets,
        "classifier_scores": q_classifier_scores,
        "repeat_to_budget": q_repeat_to_budget,
        "select_top_by_budget": q_select_top_by_budget,
        "curated_corpus": q_curated_corpus,
        "embedding_violation_rows": q_embedding_violation_rows,
        "embedding_quality": q_embedding_quality,
        "embedding_dim_means": q_embedding_dim_means,
        "lm_perplexity": q_lm_perplexity,
        "cap_per_group": q_cap_per_group,
        "kmeans_clusters": q_kmeans_clusters,
        "cluster_balanced": q_cluster_balanced,
        "corpus_splits": q_corpus_splits,
        "temperature_mix": q_temperature_mix,
        "distinctive_terms": q_distinctive_terms,
        "doc_chunks": q_doc_chunks,
        "nb_classifier_scores": q_nb_classifier,
    }
    return dict(
        sorted(base.items(), key=lambda kv: _LAST_DRIVER_CHECKED.get(kv[0], 0))
    )


# -------------------------------------------------------------- the oracles

_BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_PUNCT = r"[^A-Za-z0-9\s]"
_EN = "('the','a','of','and','to')"

_SHINGLES = """
shingles AS (
  SELECT DISTINCT doc_id AS id,
         CASE WHEN len(arr) >= 3
              THEN array_to_string(arr[i:i+2], ' ')
              ELSE array_to_string(arr, ' ') END AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        WHERE text IS NOT NULL) t,
       unnest(generate_series(1, GREATEST(len(arr) - 2, 1))) AS u(i)
)
"""

def _shingles_cte(name: str, id_expr: str = "doc_id", extra_where: str = "") -> str:
    """Parameterized form of _SHINGLES for multi-frame oracles
    (incremental_dedup) — one definition of the shingle convention."""
    return f"""{name} AS (
  SELECT DISTINCT {id_expr} AS id,
         CASE WHEN len(arr) >= 3
              THEN array_to_string(arr[i:i+2], ' ')
              ELSE array_to_string(arr, ' ') END AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        WHERE text IS NOT NULL{extra_where}) t,
       unnest(generate_series(1, GREATEST(len(arr) - 2, 1))) AS u(i)
)"""


_KM_DIST = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> (CAST(b.m[i] AS DOUBLE) - c.c[i]) * (CAST(b.m[i] AS DOUBLE) - c.c[i])), "
    "(acc, v) -> acc + v)"
)


def _km_assign_cte(name: str, cents: str, final: bool = False) -> str:
    """One Lloyd assignment as SQL: argmin over the centroid frame via
    a (dist, cid)-ordered window — list_reduce folds the squared
    distance in index order, matching Spark's F.aggregate bit-for-bit
    (the 0.0 initial is an exact identity)."""
    cols = "b.vec_id, b.label, b.m, c.cid" + (
        f", {_KM_DIST} AS dist" if final else ""
    )
    return f"""{name} AS (
  SELECT * EXCLUDE (rk) FROM (
    SELECT {cols},
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {_KM_DIST}, c.cid) AS rk
    FROM base b CROSS JOIN {cents} c) WHERE rk = 1
)"""


def _km_update_cte(s_name: str, c_name: str, a_name: str, prev: str) -> str:
    """One Lloyd update as SQL: exact BIGINT per-dimension sums, one
    double division per coordinate; an empty cluster COALESCEs to its
    previous centroid (same rule as kmeans_fit)."""
    return f"""{s_name} AS (
  SELECT cid, i AS d, sum(m[i]) AS s, count(*) AS n
  FROM {a_name}, unnest(generate_series(1, 64)) AS t(i)
  GROUP BY 1, 2
),
{c_name} AS (
  SELECT {prev}.cid, COALESCE(nn.c, {prev}.c) AS c
  FROM {prev} LEFT JOIN (
    SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY d) AS c
    FROM {s_name} GROUP BY cid) nn USING (cid)
)"""


# the shared k-means pipeline CTE chain (init -> 2 Lloyd rounds ->
# final assignment in a3) — composed by the kmeans_clusters and
# cluster_balanced oracles
_KM_PIPELINE = f"""base AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS m
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
),
seeds AS (
  SELECT m, row_number() OVER (
           ORDER BY md5('3|' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
  FROM base
  QUALIFY row_number() OVER (
           ORDER BY md5('3|' || CAST(vec_id AS VARCHAR)), vec_id) <= 4
),
c0 AS (SELECT cid, list_transform(m, x -> CAST(x AS DOUBLE)) AS c FROM seeds),
{_km_assign_cte("a1", "c0")},
{_km_update_cte("s1", "c1", "a1", "c0")},
{_km_assign_cte("a2", "c1")},
{_km_update_cte("s2", "c2", "a2", "c1")},
{_km_assign_cte("a3", "c2", final=True)}"""


def _sigs_cte(name: str, src: str) -> str:
    """8-hash MinHash signature CTE (min over md5('{i}|'||shingle))."""
    cols = ", ".join(f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(8))
    return f"{name} AS (\n  SELECT id, {cols}\n  FROM {src} GROUP BY id\n)"


def _bands_cte(name: str, src: str) -> str:
    """4 bands × 2 rows banding CTE over an 8-hash signature frame."""
    body = " UNION ALL ".join(
        f"SELECT id, {j} AS band_idx, mh_{2 * j} || '|' || mh_{2 * j + 1} AS band_key FROM {src}"
        for j in range(4)
    )
    return f"{name} AS (\n  {body}\n)"


_JACCARD = f"""
WITH {_SHINGLES},
sizes AS (SELECT id, count(*) AS sz FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.2
"""


def _simhash_sql(bits: int) -> str:
    bit_cols = ", ".join(
        f"CAST(CASE WHEN sum((ascii(substr(md5(tok), {b + 1}, 1)) % 2) * 2 - 1) > 0 "
        f"THEN 1 ELSE 0 END AS BIGINT) AS bit_{b}"
        for b in range(bits)
    )
    return f"""
simhash AS (
  SELECT doc_id AS id, {bit_cols}
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL)
  GROUP BY doc_id
)
"""


def _embedding_lsh_sql(
    dim: int = 64,
    bands: int = 8,
    bits: int = 4,
    seed: int = 1,
    max_bucket: int = 1000,
) -> str:
    """CTEs reproducing sparkcheck.dedup.embedding_candidate_pairs
    bit-for-bit: sign bits are explicit left-associative sums of
    CAST(embedding[d] AS DOUBLE) * <md5-derived Gaussian literal> —
    IEEE-identical to Spark's strict left fold — and the hot-bucket
    cap is the same anti-join."""
    from sparkcheck.dedup.embedding import hyperplanes

    planes = hyperplanes(dim, bands, bits, seed)
    band_selects = []
    for j in range(bands):
        key_bits = " || ".join(
            "CAST(("
            + " + ".join(
                f"CAST(embedding[{d + 1}] AS DOUBLE) * {planes[j][b][d]!r}"
                for d in range(dim)
            )
            + ") >= 0 AS INT)"
            for b in range(bits)
        )
        band_selects.append(
            f"SELECT vec_id AS id, {j} AS band_idx, {key_bits} AS band_key FROM embeddings"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
banded AS (
{banded}
),
hot AS (
  SELECT band_idx, band_key FROM banded
  GROUP BY band_idx, band_key HAVING count(*) > {max_bucket}
),
kept AS (
  SELECT banded.* FROM banded
  LEFT JOIN hot USING (band_idx, band_key)
  WHERE hot.band_key IS NULL
),
cands AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM kept x JOIN kept y USING (band_idx, band_key)
  WHERE x.id < y.id
)
"""


_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
_NORM_A = (
    "sqrt(list_sum(list_transform(a.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_NORM_B = (
    "sqrt(list_sum(list_transform(b.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_COS = f"round({_DOT} / ({_NORM_A} * {_NORM_B}), 4)"


def _fold13_sql(h: str) -> str:
    """DuckDB mirror of sampling.fold_hex52 over an arbitrary md5-hex
    SQL expression: first 13 hex digits folded to an exact integer in
    [0, 2^52) — ascii-to-digit per position, positional weights as
    BIGINT literals. Exactly the column expression the Spark side
    codegens."""
    terms = []
    for i in range(13):
        a = f"ascii(substr({h}, {i + 1}, 1))"
        terms.append(
            f"(({a}) - 48 - (CASE WHEN ({a}) >= 97 THEN 39 ELSE 0 END))"
            f" * CAST({16 ** (12 - i)} AS BIGINT)"
        )
    return "(" + "\n       + ".join(terms) + ")"


def _hash52_sql(seed: int) -> str:
    """The fold over the sampling hash md5('<seed>|<id>')."""
    return _fold13_sql(f"md5('{seed}|' || CAST(doc_id AS VARCHAR))")


def _clf_wlit_sql() -> str:
    """The classifier demo weights as a DuckDB BIGINT array literal —
    the SAME integer micro-units classifier_score embeds in the Spark
    plan, so both engines accumulate identical exact sums."""
    from sparkcheck.textstats.classifier import quantize_weights

    return (
        "[" + ", ".join(str(q) for q in quantize_weights(_CLF_W)) + "]::BIGINT[]"
    )


def oracle_sql() -> dict[str, str]:
    rules = f"""
SELECT 'nn_text' AS rule_id, 'text' AS column, count(*) AS evaluated,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
FROM documents
UNION ALL
SELECT 're_source', 'source', count(source),
       CAST(sum(CASE WHEN source IS NOT NULL
                AND NOT regexp_matches(CAST(source AS VARCHAR), '^src')
                THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'rg_nchars', 'n_chars', count(n_chars),
       CAST(sum(CASE WHEN n_chars IS NOT NULL
                AND NOT (TRY_CAST(n_chars AS DOUBLE) IS NOT NULL
                         AND TRY_CAST(n_chars AS DOUBLE) BETWEEN 0 AND 1000)
                THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'enum_lang', 'lang', count(lang),
       CAST(sum(CASE WHEN lang IS NOT NULL
                AND CAST(lang AS VARCHAR) NOT IN ('en','es','fr','de','zh')
                THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'len_text', 'text', count(text),
       CAST(sum(CASE WHEN text IS NOT NULL
                AND NOT (len(CAST(text AS VARCHAR)) BETWEEN 10 AND 2000)
                THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'comp_doc', 'text,lang', count(*),
       CAST(sum(CASE WHEN text IS NULL OR lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
"""
    rules_summary = f"""
WITH per_rule AS ({rules}), tot AS (SELECT count(*) AS total_rows FROM documents)
SELECT rule_id, "column", evaluated, violations, tot.total_rows,
       CASE WHEN evaluated > 0 THEN violations / evaluated ELSE 0.0 END AS violation_rate
FROM per_rule, tot
"""

    def _profile_one(c: str) -> str:
        return f"""
SELECT '{c}' AS column, count({c}) AS cnt,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
       count(DISTINCT {c}) AS ndv,
       round(min({c}), 4) AS min_v, round(max({c}), 4) AS max_v,
       round(avg({c}), 4) AS mean_v, round(stddev_samp({c}), 4) AS std_v,
       round(quantile_cont({c}, 0.25), 4) AS q1,
       round(quantile_cont({c}, 0.5), 4) AS med,
       round(quantile_cont({c}, 0.75), 4) AS q3
FROM lineitem"""

    profile_stats = " UNION ALL ".join(
        _profile_one(c) for c in ["l_quantity", "l_extendedprice", "l_discount"]
    )

    from sparkcheck.profile.profiler import PATTERNS

    pattern_rates = " UNION ALL ".join(
        f"""SELECT '{name}' AS pattern,
round(COALESCE(avg(CASE WHEN regexp_matches(CAST(c_name AS VARCHAR), '{p}')
                   THEN 1 ELSE 0 END), 0.0), 6) AS match_rate FROM customer"""
        for name, p in PATTERNS.items()
    )

    from sparkcheck.textstats.pii import PII_PATTERNS

    _pii_src = """pii_src AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.0.1' ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL)"""
    _pii_counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{name}"
        for name, p in PII_PATTERNS.items()
    )
    _pii_total = " + ".join(f"n_{name}" for name in PII_PATTERNS)
    pii_stats_sql = f"""
WITH {_pii_src},
counts AS (SELECT doc_id, {_pii_counts} FROM pii_src)
SELECT doc_id, {', '.join('n_' + n for n in PII_PATTERNS)},
       CAST({_pii_total} AS BIGINT) AS n_pii_total,
       CAST(({_pii_total}) > 0 AS INT) AS any_pii
FROM counts
"""
    _red = "text"
    for p in PII_PATTERNS.values():
        _red = f"regexp_replace({_red}, '{p}', '[PII]', 'g')"
    pii_redacted_sql = f"""
WITH {_pii_src}
SELECT doc_id, md5({_red}) AS redacted_md5 FROM pii_src
"""

    dedup_keep_best_sql = """
WITH base AS (
  SELECT doc_id, md5(text) AS group_key, CAST(n_chars AS BIGINT) AS q
  FROM documents WHERE text IS NOT NULL
),
copies AS (
  SELECT doc_id + 1000000 AS doc_id, md5(text) AS group_key,
         CAST(n_chars + CASE WHEN doc_id % 20 = 0 THEN 10 ELSE -10 END AS BIGINT) AS q
  FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
ranked AS (
  SELECT group_key, doc_id, q,
         row_number() OVER (PARTITION BY group_key ORDER BY q DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY group_key) AS grp_n
  FROM allr
)
SELECT group_key, doc_id AS kept_id, q AS best_quality,
       CAST(grp_n AS BIGINT) AS group_size
FROM ranked WHERE rn = 1
"""

    _pat_src = """src AS (
  SELECT CASE WHEN c_custkey % 4 = 0
              THEN 'user' || CAST(c_custkey AS VARCHAR) || '@example.com'
              WHEN c_custkey % 4 = 1
              THEN 'https://ex.com/p/' || CAST(c_custkey AS VARCHAR)
              ELSE c_name END AS v
  FROM customer)"""
    _pat_rates = " UNION ALL ".join(
        f"""SELECT '{name}' AS pattern,
round(avg(CASE WHEN regexp_matches(v, '{p}') THEN 1 ELSE 0 END), 6) AS match_rate
FROM src"""
        for name, p in PATTERNS.items()
    )
    _pat_matches = " UNION ALL ".join(
        f"""SELECT DISTINCT '{name}' AS pattern, v AS example_value
FROM src WHERE regexp_matches(v, '{p}')"""
        for name, p in PATTERNS.items()
    )
    pattern_examples_sql = f"""
WITH {_pat_src},
rates AS ({_pat_rates}),
matches AS ({_pat_matches}),
ranked AS (
  SELECT pattern, example_value,
         row_number() OVER (PARTITION BY pattern ORDER BY example_value)
           AS example_rank
  FROM matches
)
SELECT r.pattern, t.match_rate, CAST(r.example_rank AS BIGINT) AS example_rank,
       r.example_value
FROM ranked r JOIN rates t USING (pattern)
WHERE t.match_rate >= 0.10 AND r.example_rank <= 3
"""

    binned = """
pts AS (
  SELECT CASE WHEN event_type = 'click' THEN 'e' ELSE 'a' END AS slice,
         CAST(LEAST(FLOOR((value - 0.0) / 50.0), 9) AS BIGINT) AS bucket
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
),
counts AS (SELECT slice, bucket, count(*) AS n FROM pts GROUP BY 1, 2),
spine AS (SELECT unnest(generate_series(0, 9)) AS bucket),
wide AS (
  SELECT s.bucket,
         COALESCE(MAX(CASE WHEN c.slice = 'e' THEN c.n END), 0) AS ne,
         COALESCE(MAX(CASE WHEN c.slice = 'a' THEN c.n END), 0) AS na
  FROM spine s LEFT JOIN counts c ON c.bucket = s.bucket
  GROUP BY s.bucket
),
tot AS (SELECT sum(ne) AS te, sum(na) AS ta FROM wide),
fr AS (
  SELECT bucket,
         GREATEST(ne / te, 1e-6) AS pe,
         GREATEST(na / ta, 1e-6) AS pa
  FROM wide, tot
)
"""

    minhash_cols_sql = ", ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(4)
    )

    return {
        "rules_summary": rules_summary,
        "profile_stats": profile_stats,
        "histogram_totalprice": """
SELECT CAST(GREATEST(LEAST(FLOOR((o_totalprice - 0.0) / 50000.0), 9), 0) AS BIGINT) AS bucket,
       count(*) AS cnt
FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
""",
        "top_k_brand": """
SELECT p_brand, count(*) AS cnt FROM part GROUP BY 1
ORDER BY cnt DESC, p_brand ASC LIMIT 10
""",
        "bottom_k_type": """
SELECT p_type, count(*) AS cnt FROM part WHERE p_type IS NOT NULL
GROUP BY 1 ORDER BY cnt ASC, p_type ASC LIMIT 5
""",
        "uniqueness_orders": """
SELECT count(*) AS total_keys, count(DISTINCT o_orderkey) AS distinct_keys,
       count(*) - count(DISTINCT o_orderkey) AS duplicate_excess
FROM orders WHERE o_orderkey IS NOT NULL
""",
        "duplicate_doc_texts": """
SELECT md5(text) AS fp, count(*) AS n_copies,
       min(doc_id) AS first_id, max(doc_id) AS last_id
FROM documents WHERE text IS NOT NULL
GROUP BY 1 HAVING count(*) > 1
""",
        "orphan_orders": """
SELECT count(*) AS orphan_count, count(DISTINCT o.o_custkey) AS distinct_orphan_keys
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
""",
        "orphan_lineitem_part": """
SELECT count(*) AS orphan_count, count(DISTINCT l.l_partkey) AS distinct_orphan_keys
FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
  ON l.l_partkey = p.p_partkey
WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
""",
        "incremental_dedup": f"""
WITH {_shingles_cte("corpus_sh")},
{_shingles_cte("new_sh", id_expr="doc_id + 100000",
               extra_where=" AND doc_id % 10 = 0")},
{_sigs_cte("corpus_sigs", "corpus_sh")},
{_sigs_cte("new_sigs", "new_sh")},
{_bands_cte("corpus_bands", "corpus_sigs")},
{_bands_cte("new_bands", "new_sigs")},
cands AS (
  SELECT DISTINCT n.id AS id_a, c.id AS id_b
  FROM new_bands n JOIN corpus_bands c
    ON n.band_idx = c.band_idx AND n.band_key = c.band_key
), sizes_new AS (SELECT id, count(*) AS sz FROM new_sh GROUP BY id),
sizes_corpus AS (SELECT id, count(*) AS sz FROM corpus_sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM new_sh a JOIN corpus_sh b ON a.shingle = b.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT id_a, id_b,
         round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
  FROM inter JOIN sizes_new sa ON sa.id = id_a
             JOIN sizes_corpus sb ON sb.id = id_b
  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.5
)
SELECT v.* FROM verified v SEMI JOIN cands c
  ON v.id_a = c.id_a AND v.id_b = c.id_b
""",
        "url_dedup_stats": """
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.Example' || (doc_id % 7) || '.COM'
         || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '/p/' || doc_id END
         || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1' ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS query
  FROM raw
), norm AS (
  SELECT doc_id, url, scheme,
         regexp_replace(
           CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END,
           '^www\\.', '') AS host,
         CASE WHEN path = '/' THEN '' ELSE path END AS path,
         COALESCE(array_to_string(
           list_sort(list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=.*)?$'))),
           '&'), '') AS qnorm
  FROM parts
), canon AS (
  SELECT url,
         CASE WHEN scheme = '' THEN ''
              ELSE scheme || '://' || host || path
                   || CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END
         END AS canonical_url
  FROM norm
)
SELECT CAST(count(*) AS BIGINT) AS total_urls,
       CAST(count(DISTINCT url) AS BIGINT) AS distinct_raw,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS distinct_canonical,
       CAST(count(DISTINCT url) - count(DISTINCT canonical_url) AS BIGINT) AS merged
FROM canon
""",
        "span_dedup_rewrite": """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS arr
  FROM documents WHERE text IS NOT NULL
), sized AS (
  SELECT doc_id, arr, CAST(floor(len(arr) / 6.0) AS INT) AS nblk FROM base
), blocks AS (
  SELECT doc_id, i AS pos,
         array_to_string(arr[(i-1)*6+1:(i-1)*6+6], ' ') AS block
  FROM sized, unnest(generate_series(1, nblk)) AS u(i)
), shared AS (
  SELECT block FROM (SELECT DISTINCT doc_id, block FROM blocks) t
  GROUP BY block HAVING count(*) >= 2
), kept AS (
  SELECT b.doc_id, b.pos, b.block FROM blocks b
  WHERE b.block NOT IN (SELECT block FROM shared)
), reass AS (
  SELECT doc_id, string_agg(block, ' ' ORDER BY pos) AS kept_text,
         CAST(count(*) AS BIGINT) AS kept_n
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id,
       COALESCE(array_to_string(list_filter(
         [r.kept_text, array_to_string(s.arr[s.nblk*6+1:len(s.arr)], ' ')],
         x -> x IS NOT NULL AND x <> ''), ' '), '') AS clean_text,
       CAST(s.nblk AS BIGINT) AS n_spans,
       CAST(s.nblk - COALESCE(r.kept_n, 0) AS BIGINT) AS removed_spans
FROM sized s LEFT JOIN reass r USING (doc_id)
""",
        "canonical_urls": """
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.Example' || (doc_id % 7) || '.COM'
         || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '/p/' || doc_id END
         || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1' ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS query
  FROM raw
), norm AS (
  SELECT doc_id, url, scheme,
         regexp_replace(
           CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END,
           '^www\\.', '') AS host,
         CASE WHEN path = '/' THEN '' ELSE path END AS path,
         COALESCE(array_to_string(
           list_sort(list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=.*)?$'))),
           '&'), '') AS qnorm
  FROM parts
)
SELECT doc_id, url,
       CASE WHEN scheme = '' THEN ''
            ELSE scheme || '://' || host || path
                 || CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END
       END AS canonical_url
FROM norm
""",
        "fk_candidates": """
WITH pairs AS (
  SELECT 'orders' AS child_table, 'o_custkey' AS child_column,
         'customer' AS parent_table, 'c_custkey' AS parent_column,
         (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_custkey IS NOT NULL) AS child_distinct,
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.v)) AS missing_distinct
  UNION ALL
  SELECT 'lineitem', 'l_partkey', 'part', 'p_partkey',
         (SELECT count(DISTINCT l_partkey) FROM lineitem WHERE l_partkey IS NOT NULL),
         (SELECT count(*) FROM (SELECT DISTINCT l_partkey AS v FROM lineitem WHERE l_partkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.v))
  UNION ALL
  SELECT 'customer', 'c_nationkey', 'nation', 'n_nationkey',
         (SELECT count(DISTINCT c_nationkey) FROM customer WHERE c_nationkey IS NOT NULL),
         (SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS v FROM customer WHERE c_nationkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = c.v))
  UNION ALL
  SELECT 'orders', 'o_orderkey', 'customer', 'c_custkey',
         (SELECT count(DISTINCT o_orderkey) FROM orders WHERE o_orderkey IS NOT NULL),
         (SELECT count(*) FROM (SELECT DISTINCT o_orderkey AS v FROM orders WHERE o_orderkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.v))
)
SELECT child_table, child_column, parent_table, parent_column,
       CAST(child_distinct AS BIGINT) AS child_distinct,
       CAST(missing_distinct AS BIGINT) AS missing_distinct,
       ROUND(1.0 - missing_distinct / CAST(child_distinct AS DOUBLE), 6) AS containment,
       (missing_distinct = 0) AS is_fk_candidate
FROM pairs
""",
        "completeness_events": """
SELECT count(*) AS total_rows,
       CAST(sum(CASE WHEN ts IS NULL OR user_id IS NULL OR value IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS incomplete_rows
FROM events
""",
        "pattern_rates": pattern_rates,
        "pattern_examples": pattern_examples_sql,
        "pii_stats": pii_stats_sql,
        "pii_redacted": pii_redacted_sql,
        "dedup_keep_best": dedup_keep_best_sql,
        # the WHOLE dedup_corpus pipeline, stage by stage: exact dedup
        # keeps min-id per md5(text) (NULL text exempt); shingles/sigs/
        # bands/verify replicate the md5 MinHash path; a recursive CTE
        # forms the connected components; keep-best takes the highest
        # n_chars (ties -> min id) per cluster; unclustered docs pass
        "dedup_corpus": f"""
WITH RECURSIVE exact_keep AS (
  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
  FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
),
exact AS (
  SELECT d.doc_id, d.text, d.n_chars FROM documents d
  JOIN exact_keep k USING (doc_id)
  UNION ALL
  SELECT doc_id, text, n_chars FROM documents WHERE text IS NULL
),
shingles AS (
  SELECT DISTINCT doc_id AS id,
         CASE WHEN len(arr) >= 3
              THEN array_to_string(arr[i:i+2], ' ')
              ELSE array_to_string(arr, ' ') END AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM exact
        WHERE text IS NOT NULL) t,
       unnest(generate_series(1, GREATEST(len(arr) - 2, 1))) AS u(i)
),
sigs AS (
  SELECT id, {', '.join(f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(8))}
  FROM shingles GROUP BY id
),
bands AS (
  {' UNION ALL '.join(f"SELECT id, {j} AS band_idx, mh_{2*j} || '|' || mh_{2*j+1} AS band_key FROM sigs" for j in range(4))}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS sz FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
pairs AS (
  SELECT v.id_a, v.id_b FROM (
    SELECT id_a, id_b
    FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
    WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.5
  ) v SEMI JOIN cands c ON v.id_a = c.id_a AND v.id_b = c.id_b
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
),
clusters AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
kept AS (
  SELECT cluster,
         (list(e.doc_id ORDER BY e.n_chars DESC, e.doc_id ASC))[1] AS doc_id
  FROM exact e JOIN clusters c ON e.doc_id = c.id
  GROUP BY cluster
)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM exact
WHERE doc_id NOT IN (SELECT id FROM clusters)
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM kept
""",
        # thresholds are hex_threshold(0.5 / 1.0 / 0.25) literals — md5
        # hex is identical in both engines and fixed-length lowercase
        # hex compares as the number it encodes
        "stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE md5('1|' || CAST(doc_id AS VARCHAR)) <
      CASE WHEN lang = 'de' THEN 'gggggggggggggggggggggggggggggggg'
           WHEN lang = 'en' THEN '80000000000000000000000000000000'
           ELSE '40000000000000000000000000000000' END
""",
        "deterministic_sample": """
SELECT doc_id, source FROM documents
WHERE md5('7|' || CAST(doc_id AS VARCHAR)) < '59999999999998000000000000000000'
""",
        # per-group cap: the oracle ranks naively over the whole group —
        # provably the same set the Spark bucketed plan keeps, because
        # bucketing by a hash PREFIX then ordering within buckets is the
        # global (hash, id) order
        "cap_per_group": """
WITH pre AS (
  SELECT doc_id, source, lang, n_chars,
         md5('7|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
),
ranked AS (
  SELECT doc_id, source, lang, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM pre
)
SELECT doc_id, source, lang, n_chars FROM ranked WHERE rk <= 10
""",
        # deterministic Lloyd k-means, the WHOLE training loop unrolled
        # (init -> assign -> update -> assign -> update -> final assign):
        # micro-int grid makes every per-dim sum an exact BIGINT, every
        # centroid one double division, every distance an index-ordered
        # fold — bit-identical to the Spark loop
        "kmeans_clusters": f"""
WITH {_KM_PIPELINE}
SELECT vec_id, label, CAST(cid AS INT) AS cluster_id,
       CAST(round(dist) AS BIGINT) AS dist2_micro
FROM a3
""",
        # Naive-Bayes TRAINING + inference in one statement: exact
        # BIGINT bucket counts, micro-rounded ln() weights and bias
        # (the same quantization the Spark trainer applies), then the
        # joined-weights scoring shape with an exact BIGINT per-doc sum
        "nb_classifier_scores": f"""
WITH base AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
  FROM documents
),
prior AS (
  SELECT CAST(sum(y) AS DOUBLE) AS np, CAST(sum(1 - y) AS DOUBLE) AS nn
  FROM base
),
terms AS (
  SELECT y, doc_id,
         CAST({_fold13_sql("md5('5|' || t)")} % 64 AS BIGINT) AS b
  FROM (SELECT y, doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS t
        FROM base WHERE text IS NOT NULL)
),
cnt AS (
  SELECT b, CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(1 - y) AS BIGINT) AS neg
  FROM terms GROUP BY b
),
tots AS (
  SELECT CAST(COALESCE(sum(pos), 0) AS BIGINT) AS tp,
         CAST(COALESCE(sum(neg), 0) AS BIGINT) AS tn
  FROM cnt
),
wts AS (
  SELECT g.b,
         CAST(round((ln((COALESCE(cnt.pos, 0) + 1.0)
                        / ((SELECT tp FROM tots) + 1.0 * 64))
                     - ln((COALESCE(cnt.neg, 0) + 1.0)
                          / ((SELECT tn FROM tots) + 1.0 * 64)))
                    * 1000000.0) AS BIGINT) AS wm
  FROM (SELECT unnest(generate_series(0, 63)) AS b) g
  LEFT JOIN cnt ON cnt.b = g.b
),
biasv AS (
  SELECT CAST(round(ln(np / nn) * 1000000.0) AS BIGINT) AS bm FROM prior
),
sums AS (
  SELECT terms.doc_id, CAST(sum(w.wm) AS BIGINT) AS acc
  FROM terms JOIN wts w USING (b) GROUP BY terms.doc_id
)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-(
         (SELECT bm FROM biasv) / 1000000.0
         + CAST(COALESCE(s.acc, 0) AS DOUBLE) / 1000000.0))), 6)
         AS clf_score
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN sums s ON s.doc_id = d.doc_id
""",
        # overlapping token windows, max 16 / overlap 4 (stride 12);
        # DuckDB list[a:b] is 1-based inclusive-end == Spark slice(a, len)
        "doc_chunks": """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
meta AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= 16 THEN 1
              ELSE 1 + CAST(floor((len(toks) - 16 + 11) / 12.0) AS INT)
         END AS n_chunks
  FROM tok WHERE len(toks) >= 1
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(len(toks[i * 12 + 1 : i * 12 + 16]) AS INT) AS n_chunk_tokens,
       array_to_string(toks[i * 12 + 1 : i * 12 + 16], ' ') AS chunk_text
FROM meta, unnest(generate_series(0, n_chunks - 1)) AS u(i)
""",
        # TF-IDF distinctive terms: exact BIGINT tf/df, one micro-rounded
        # ln() per term multiplied by the exact tf — engine-portable score
        "distinctive_terms": """
WITH terms AS (
  SELECT g, doc_id, t AS term FROM (
    SELECT source AS g, doc_id, unnest(string_split(text, ' ')) AS t
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL)
  WHERE t <> ''
),
nd AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
),
tf AS (SELECT g, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1
),
scored AS (
  SELECT tf.g AS source, tf.term, tf.tf, d.df,
         tf.tf * CAST(round(ln((SELECT n FROM nd) / CAST(d.df AS DOUBLE))
                            * 1000000.0) AS BIGINT) AS tfidf_micro
  FROM tf JOIN dfreq d USING (term)
)
SELECT source, term, tf, df, tfidf_micro, CAST(rk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY tfidf_micro DESC, term ASC) AS rk
  FROM scored) WHERE rk <= 3
""",
        # disjoint hash intervals; the cumulative thresholds are the
        # EXACT hex strings the operator's float accumulation produces
        # (labels in repr-sort order: test, train, val)
        "corpus_splits": """
SELECT doc_id, source,
       CASE WHEN md5('17|' || CAST(doc_id AS VARCHAR))
                 < '1999999999999a000000000000000000' THEN 'test'
            WHEN md5('17|' || CAST(doc_id AS VARCHAR))
                 < 'e6666666666668000000000000000000' THEN 'train'
            ELSE 'val' END AS split
FROM documents WHERE doc_id IS NOT NULL
""",
        # temperature mixing, T=2: weights are sqrt(n) (IEEE-exact in
        # every engine, unlike pow(n, 0.5)); the normalizer is an
        # ORDERED fold over ascending (n, source) — float addition is
        # order-dependent, so the operator pins the order and the
        # oracle reproduces it with list_reduce over a sorted list
        "temperature_mix": f"""
WITH sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE source IS NOT NULL GROUP BY source
),
normv AS (
  SELECT list_reduce(
           list(sqrt(CAST(n AS DOUBLE)) ORDER BY n, source),
           (a, b) -> a + b) AS norm
  FROM sizes
),
rates AS (
  SELECT source,
         least(1.0, 300.0 * (sqrt(CAST(n AS DOUBLE))
                             / (SELECT norm FROM normv))
                    / CAST(n AS DOUBLE)) AS rate
  FROM sizes
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE {_hash52_sql(19)} < r.rate * 4503599627370496.0
""",
        # cluster-based curation end to end: the k-means pipeline above
        # plus exact equal-size rebalancing — every cluster capped at the
        # smallest cluster's size by the lowest-sampling-hash rule
        "cluster_balanced": f"""
WITH {_KM_PIPELINE},
target AS (
  SELECT min(cnt) AS t FROM (SELECT count(*) AS cnt FROM a3 GROUP BY cid)
),
ranked AS (
  SELECT vec_id, label, cid,
         row_number() OVER (PARTITION BY cid ORDER BY
           md5('11|' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM a3
)
SELECT vec_id, label, CAST(cid AS INT) AS cluster_id
FROM ranked WHERE rk <= (SELECT t FROM target)
""",
        # rates are DERIVED from the data (budget/total), so no static
        # hex threshold exists — both engines fold the first 13 hex
        # digits of the sampling hash to an exact 52-bit integer and
        # compare against rate*2^52: every operand is exact in a double
        # and the divisions/multiplies are the same correctly-rounded
        # IEEE ops, so the selection matches bit-for-bit
        "sample_to_budget": f"""
WITH totals AS (
  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tot
  FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY lang
),
rates AS (
  SELECT lang,
         least(1.0, (CASE lang WHEN 'en' THEN 1000000000.0
                               WHEN 'de' THEN 8000.0
                               ELSE 5000.0 END) / CAST(tot AS DOUBLE)) AS rate
  FROM totals
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r USING (lang)
WHERE {_hash52_sql(7)} < r.rate * 4503599627370496.0
""",
        "packed_manifest": """
WITH pos AS (
  SELECT doc_id, lang, CAST(COALESCE(n_chars, 0) AS BIGINT) AS L,
         COALESCE(SUM(CAST(COALESCE(n_chars, 0) AS BIGINT)) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM documents WHERE lang IS NOT NULL
),
spans AS (
  SELECT doc_id, lang, L,
         CAST(before // 4096 AS BIGINT) AS seq0,
         CAST(before % 4096 AS BIGINT) AS seq_offset,
         CASE WHEN L <= 0 THEN 1
              ELSE (seq_offset + L - 1) // 4096 + 1 END AS n_spans
  FROM pos
)
SELECT lang,
       CAST(seq0 + j AS BIGINT) AS seq_id,
       CAST(CASE WHEN j = 0 THEN seq_offset ELSE 0 END AS BIGINT) AS seq_pos,
       doc_id,
       CAST(CASE WHEN j = 0 THEN 0
                 ELSE 4096 - seq_offset + (j - 1) * 4096 END AS BIGINT)
         AS take_from,
       CAST(least(L - (CASE WHEN j = 0 THEN 0
                            ELSE 4096 - seq_offset + (j - 1) * 4096 END),
                  CASE WHEN j = 0 THEN 4096 - seq_offset ELSE 4096 END)
            AS BIGINT) AS take_len
FROM spans, unnest(generate_series(0, n_spans - 1)) AS t(j)
""",
        # seeded global shuffle: shard from the first 13 hex digits of
        # the sampling hash (exact 52-bit integer, mod shards),
        # within-shard rank over the LAST 19 digits (disjoint, so
        # position is independent of shard membership), doc id as the
        # total-order tie-break — the identical fixed permutation
        "shuffle_shards": f"""
WITH h AS (
  SELECT doc_id,
         md5('3|' || CAST(doc_id AS VARCHAR)) AS hh,
         CAST({_hash52_sql(3)} % 8 AS BIGINT) AS shard_id
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id
            ORDER BY substr(hh, 14, 19), doc_id) - 1 AS BIGINT) AS shard_pos
FROM h
""",
        # host-level curation: integer quality values make per-host
        # averages exact sums/n in both engines, so the keep flag is
        # summation-order-proof
        "host_reputation": """
WITH docs AS (
  SELECT CASE WHEN doc_id % 997 = 0 THEN 'rare.example'
              WHEN doc_id % 2 = 0 THEN 'hot.example'
              ELSE 'h' || CAST(doc_id % 37 AS VARCHAR) || '.example' END AS host,
         CAST(doc_id % 4 AS DOUBLE) AS quality
  FROM documents WHERE doc_id IS NOT NULL
),
rep AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs, avg(quality) AS avg_q
  FROM docs GROUP BY host
)
SELECT host, n_docs, round(avg_q, 6) AS avg_quality,
       CAST(CASE WHEN n_docs >= 10 AND avg_q >= 1.5
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM rep
""",
        # epoch-aware mixing: full_epochs = B // T (integer-exact in
        # both engines), remainder threshold = (B % T)/T * 2^52 (one
        # correctly-rounded division each), copies exploded from
        # generate_series
        "repeat_to_budget": f"""
WITH totals AS (
  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tot
  FROM documents WHERE lang IN ('de', 'fr') GROUP BY lang
),
plan AS (
  SELECT lang, tot,
         CAST((CASE lang WHEN 'de' THEN 60000 ELSE 3000 END) // tot
              AS BIGINT) AS full_epochs,
         (CAST((CASE lang WHEN 'de' THEN 60000 ELSE 3000 END) % tot
               AS DOUBLE) / CAST(tot AS DOUBLE)) * 4503599627370496.0 AS thr
  FROM totals WHERE tot > 0
),
n AS (
  SELECT d.doc_id, d.lang,
         p.full_epochs
           + (CASE WHEN {_hash52_sql(9)} < p.thr THEN 1 ELSE 0 END)
           AS n_copies
  FROM documents d JOIN plan p USING (lang)
  WHERE d.doc_id IS NOT NULL
)
SELECT doc_id, lang, CAST(j AS BIGINT) AS epoch
FROM n, unnest(generate_series(0, CAST(n_copies AS BIGINT) - 1)) AS t(j)
WHERE n_copies > 0
""",
        # vector QA over the same deterministic corruption: flags are
        # exact booleans; per-row norms fold left in both engines
        # (round 4); the corrupted variant is re-derived in SQL
        "embedding_violation_rows": """
WITH c AS (
  SELECT vec_id,
         CASE WHEN vec_id % 97 = 0 THEN NULL
              WHEN vec_id % 89 = 0 THEN embedding[1:32]
              WHEN vec_id % 83 = 0
                THEN [CAST('NaN' AS FLOAT)] || embedding[2:64]
              WHEN vec_id % 79 = 0
                THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
              ELSE embedding END AS emb
  FROM embeddings WHERE vec_id IS NOT NULL
),
f AS (
  SELECT vec_id, emb,
         (emb IS NULL) AS is_null,
         CASE WHEN emb IS NULL THEN FALSE
              ELSE len(emb) <> 64 END AS bad_dim,
         CASE WHEN emb IS NULL THEN FALSE
              ELSE len(list_filter(emb, x -> isnan(CAST(x AS DOUBLE)))) > 0
              END AS has_nan,
         CASE WHEN emb IS NULL THEN FALSE
              ELSE len(list_filter(emb, x -> x IS NULL)) > 0 END
           AS has_null_elem
  FROM c
),
n AS (
  SELECT *, CASE WHEN is_null OR has_nan OR has_null_elem THEN NULL
                 ELSE sqrt(list_sum(list_transform(emb,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END
              AS norm
  FROM f
)
SELECT vec_id,
       CASE WHEN is_null THEN -1 ELSE CAST(len(emb) AS INT) END AS dim,
       CAST(is_null AS INT) AS is_null,
       CAST(bad_dim AS INT) AS bad_dim,
       CAST(has_nan AS INT) AS has_nan,
       CAST(coalesce(norm = 0.0, FALSE) AS INT) AS is_zero,
       coalesce(round(norm, 4), -1.0) AS norm
FROM n
""",
        # one-row profile: counts exact; norm stats over the VALID
        # subset, rounded 4 (coarse: cross-engine summation order)
        "embedding_quality": """
WITH c AS (
  SELECT vec_id,
         CASE WHEN vec_id % 97 = 0 THEN NULL
              WHEN vec_id % 89 = 0 THEN embedding[1:32]
              WHEN vec_id % 83 = 0
                THEN [CAST('NaN' AS FLOAT)] || embedding[2:64]
              WHEN vec_id % 79 = 0
                THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
              ELSE embedding END AS emb
  FROM embeddings WHERE vec_id IS NOT NULL
),
f AS (
  SELECT vec_id, emb,
         (emb IS NULL) AS is_null,
         CASE WHEN emb IS NULL THEN FALSE
              ELSE len(emb) <> 64 END AS bad_dim,
         CASE WHEN emb IS NULL THEN FALSE
              ELSE len(list_filter(emb, x -> isnan(CAST(x AS DOUBLE)))) > 0
              END AS has_nan,
         CASE WHEN emb IS NULL THEN FALSE
              ELSE len(list_filter(emb, x -> x IS NULL)) > 0 END
           AS has_null_elem
  FROM c
),
n AS (
  SELECT *,
         (NOT is_null AND NOT has_nan AND NOT has_null_elem
          AND NOT bad_dim) AS ok,
         CASE WHEN is_null OR has_nan OR has_null_elem THEN NULL
              ELSE sqrt(list_sum(list_transform(emb,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END AS norm
  FROM f
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(is_null AS INT)) AS BIGINT) AS null_vecs,
       CAST(sum(CAST(bad_dim AS INT)) AS BIGINT) AS bad_dim_vecs,
       CAST(sum(CAST(has_nan AS INT)) AS BIGINT) AS nan_vecs,
       CAST(sum(CAST(coalesce(norm = 0.0, FALSE) AS INT)) AS BIGINT)
         AS zero_vecs,
       CAST(sum(CAST(ok AS INT)) AS BIGINT) AS valid_vecs,
       round(avg(CASE WHEN ok THEN norm END), 4) AS norm_mean,
       round(stddev_samp(CASE WHEN ok THEN norm END), 4) AS norm_std,
       round(min(CASE WHEN ok THEN norm END), 4) AS norm_min,
       round(max(CASE WHEN ok THEN norm END), 4) AS norm_max
FROM n
""",
        # per-dimension drift baseline over valid vectors; dim values
        # come from indexing with generate_series (engine-portable
        # ordinality)
        "embedding_dim_means": """
WITH c AS (
  SELECT vec_id,
         CASE WHEN vec_id % 97 = 0 THEN NULL
              WHEN vec_id % 89 = 0 THEN embedding[1:32]
              WHEN vec_id % 83 = 0
                THEN [CAST('NaN' AS FLOAT)] || embedding[2:64]
              WHEN vec_id % 79 = 0
                THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
              ELSE embedding END AS emb
  FROM embeddings WHERE vec_id IS NOT NULL
),
v AS (
  SELECT emb FROM c
  WHERE emb IS NOT NULL
    AND len(emb) = 64
    AND len(list_filter(emb, x -> isnan(CAST(x AS DOUBLE)))) = 0
    AND len(list_filter(emb, x -> x IS NULL)) = 0
)
SELECT CAST(i - 1 AS INT) AS dim_idx,
       round(avg(CAST(emb[i] AS DOUBLE)), 5) AS mean,
       round(stddev_samp(CAST(emb[i] AS DOUBLE)), 5) AS std,
       CAST(count(*) AS BIGINT) AS n
FROM v, unnest(generate_series(1, 64)) AS t(i)
GROUP BY 1
""",
        # quality-ranked selection under a token budget: whole bins
        # top-down, hash fraction of the boundary bin — per-row
        # conditions over the cumulative masses are equivalent to the
        # Spark driver's boundary constants (all higher bins fit by
        # construction of "first non-fitting bin")
        "select_top_by_budget": f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
         CAST(n_chars AS BIGINT) AS tok
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
),
s AS (SELECT min(score) AS lo, max(score) AS hi FROM d),
b AS (
  SELECT d.doc_id, d.tok,
         least(CAST(floor((d.score - s.lo) * 100.0 / (s.hi - s.lo))
                    AS BIGINT), 99) AS bin
  FROM d, s
),
mass AS (SELECT bin, CAST(sum(tok) AS BIGINT) AS m FROM b GROUP BY bin),
cum AS (
  SELECT bin, m,
         COALESCE(SUM(m) OVER (ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
  FROM mass
)
SELECT b.doc_id
FROM b JOIN cum USING (bin)
WHERE above + m <= 60000
   OR (above < 60000
       AND {_hash52_sql(11)}
             < (CAST(60000 - above AS DOUBLE) / CAST(m AS DOUBLE))
               * 4503599627370496.0)
""",
        # the WHOLE curation layer in one query: classifier logits
        # (exact-integer fold, no libm) -> histogram-threshold
        # selection -> md5-keyed 4-shard permutation -> prefix-sum
        # packing in shuffled order
        "curated_corpus": f"""
WITH scored AS (
  SELECT doc_id, n_chars,
         -0.2 + CAST(coalesce(list_sum(
           list_transform(
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> ''),
             t -> ({_clf_wlit_sql()})[
               CAST({_fold13_sql("md5('5|' || t)")} % 64 AS BIGINT) + 1])),
           0) AS DOUBLE) / 1000000.0 AS score
  FROM documents WHERE doc_id IS NOT NULL
),
d AS (
  SELECT doc_id, score, CAST(n_chars AS BIGINT) AS tok
  FROM scored WHERE n_chars IS NOT NULL
),
s AS (SELECT min(score) AS lo, max(score) AS hi FROM d),
b AS (
  SELECT d.doc_id, d.tok,
         least(CAST(floor((d.score - s.lo) * 100.0 / (s.hi - s.lo))
                    AS BIGINT), 99) AS bin
  FROM d, s
),
mass AS (SELECT bin, CAST(sum(tok) AS BIGINT) AS m FROM b GROUP BY bin),
cum AS (
  SELECT bin, m,
         COALESCE(SUM(m) OVER (ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
  FROM mass
),
sel AS (
  SELECT b.doc_id, b.tok
  FROM b JOIN cum USING (bin)
  WHERE above + m <= 60000
     OR (above < 60000
         AND {_hash52_sql(11)}
               < (CAST(60000 - above AS DOUBLE) / CAST(m AS DOUBLE))
                 * 4503599627370496.0)
),
sh AS (
  SELECT doc_id, tok,
         md5('13|' || CAST(doc_id AS VARCHAR)) AS hh,
         CAST({_hash52_sql(13)} % 4 AS BIGINT) AS shard_id
  FROM sel
),
r AS (
  SELECT doc_id, tok, shard_id,
         CAST(row_number() OVER (PARTITION BY shard_id
              ORDER BY substr(hh, 14, 19), doc_id) - 1 AS BIGINT)
           AS shard_pos
  FROM sh
),
p AS (
  SELECT doc_id, shard_id, shard_pos,
         COALESCE(SUM(tok) OVER (PARTITION BY shard_id ORDER BY shard_pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM r
)
SELECT doc_id, shard_id, shard_pos,
       CAST(before // 2048 AS BIGINT) AS seq_id,
       CAST(before % 2048 AS BIGINT) AS seq_offset
FROM p
""",
        # snapshot versioning: the same NULL-sentinel fingerprints
        # (chr(0)/chr(31) hash identically in both engines) through the
        # same full-outer join; the edit expression null-propagates in
        # both engines so NULL-text docs stay 'unchanged'
        "snapshot_diff": """
WITH o AS (
  SELECT doc_id, md5(concat_ws(chr(31),
           coalesce(CAST(text AS VARCHAR), chr(0)),
           coalesce(CAST(lang AS VARCHAR), chr(0)))) AS old_fp
  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 89 <> 0
),
n AS (
  SELECT doc_id, md5(concat_ws(chr(31),
           coalesce(CAST(CASE WHEN doc_id % 97 = 0 THEN 'EDIT:' || text
                              ELSE text END AS VARCHAR), chr(0)),
           coalesce(CAST(lang AS VARCHAR), chr(0)))) AS new_fp
  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 83 <> 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_fp IS NULL THEN 'added'
            WHEN n.new_fp IS NULL THEN 'removed'
            WHEN o.old_fp = n.new_fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.old_fp AS old_fp, n.new_fp AS new_fp
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
""",
        # incremental-revalidation work list: touched partitions =
        # new-side partition of every non-unchanged doc UNION old-side
        # partition of every doc that moved partitions (content
        # fingerprint is text-only here, so a pure partition move is
        # 'unchanged' but still touches both sides)
        "revalidate_targets": """
WITH o AS (
  SELECT doc_id, CAST(doc_id // 10 AS BIGINT) AS part,
         md5(coalesce(CAST(text AS VARCHAR), chr(0))) AS fp
  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 89 <> 0
),
n AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id % 79 = 0 THEN doc_id // 10 + 1
                   ELSE doc_id // 10 END AS BIGINT) AS part,
         md5(coalesce(CAST(CASE WHEN doc_id % 97 = 0 THEN 'EDIT:' || text
                                ELSE text END AS VARCHAR), chr(0))) AS fp
  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 83 <> 0
),
j AS (
  SELECT o.part AS old_part, n.part AS new_part,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp = n.fp THEN 'unchanged' ELSE 'changed' END AS status,
         (o.part IS NOT NULL AND (n.part IS NULL OR n.part <> o.part))
           AS moved
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
),
t AS (SELECT * FROM j WHERE status <> 'unchanged' OR moved)
SELECT DISTINCT part FROM (
  SELECT new_part AS part FROM t
  UNION ALL
  SELECT old_part AS part FROM t WHERE moved
) WHERE part IS NOT NULL
""",
        # hashed-unigram linear classifier: bucket = the same 52-bit
        # digit fold mod 64 inside a list lambda, weights embedded as
        # the SAME integer micro-units the Spark literal carries, so
        # the accumulation is an exact BIGINT sum in both engines and
        # the single float op (sigmoid) happens once per doc
        "classifier_scores": f"""
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(-0.2 + CAST(coalesce(list_sum(
         list_transform(
           list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> ''),
           t -> ({_clf_wlit_sql()})[
             CAST({_fold13_sql("md5('5|' || t)")} % 64 AS BIGINT) + 1])),
         0) AS DOUBLE) / 1000000.0))), 6) AS clf_score
FROM documents
""",
        # 3-gram stupid-backoff perplexity vs an 'en'-trained model:
        # per-position scores are BIGINT-count ratios (IEEE division —
        # bit-identical across engines); ln() rounded to integer
        # micro-nats BEFORE the exact per-doc BIGINT sum absorbs the
        # engines' ~1-ulp libm differences; the tercile orders by the
        # already-rounded perplexity with a doc_id tie-break
        "lm_perplexity": """
WITH tok AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
pos AS (
  SELECT doc_id, lang,
         toks[i] AS g1,
         CASE WHEN i >= 2 THEN toks[i-1] || ' ' || toks[i] END AS g2,
         CASE WHEN i >= 3
              THEN toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i] END AS g3,
         CASE WHEN i >= 2 THEN toks[i-1] END AS c2,
         CASE WHEN i >= 3 THEN toks[i-2] || ' ' || toks[i-1] END AS c3
  FROM tok, unnest(generate_series(1, len(toks))) AS u(i)
),
train AS (SELECT * FROM pos WHERE lang = 'en'),
cnt AS (
  SELECT g1 AS gram, count(*) AS cnt FROM train GROUP BY 1
  UNION ALL SELECT g2, count(*) FROM train WHERE g2 IS NOT NULL GROUP BY 1
  UNION ALL SELECT g3, count(*) FROM train WHERE g3 IS NOT NULL GROUP BY 1
),
n_tot AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM train),
looked AS (
  SELECT p.doc_id, p.lang, p.g2, p.g3,
         a.cnt AS cnt_g1, b.cnt AS cnt_g2, c.cnt AS cnt_g3,
         d.cnt AS cnt_c2, e.cnt AS cnt_c3
  FROM pos p
  LEFT JOIN cnt a ON a.gram = p.g1
  LEFT JOIN cnt b ON b.gram = p.g2
  LEFT JOIN cnt c ON c.gram = p.g3
  LEFT JOIN cnt d ON d.gram = p.c2
  LEFT JOIN cnt e ON e.gram = p.c3
),
s1 AS (SELECT *, CASE WHEN cnt_g1 IS NULL THEN 1.0 / (SELECT N FROM n_tot)
                      ELSE CAST(cnt_g1 AS DOUBLE) / (SELECT N FROM n_tot)
                 END AS s_1
       FROM looked),
s2 AS (SELECT *, CASE WHEN g2 IS NULL THEN s_1
                      WHEN cnt_g2 IS NOT NULL AND cnt_c2 IS NOT NULL
                        THEN CAST(cnt_g2 AS DOUBLE) / CAST(cnt_c2 AS DOUBLE)
                      ELSE 0.4 * s_1 END AS s_2 FROM s1),
s3 AS (SELECT *, CASE WHEN g3 IS NULL THEN s_2
                      WHEN cnt_g3 IS NOT NULL AND cnt_c3 IS NOT NULL
                        THEN CAST(cnt_g3 AS DOUBLE) / CAST(cnt_c3 AS DOUBLE)
                      ELSE 0.4 * s_2 END AS s_3 FROM s2),
per_doc AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(round(ln(s_3) * 1000000.0) AS BIGINT)) AS BIGINT)
           AS logprob_micro
  FROM s3 GROUP BY 1, 2
)
SELECT doc_id, lang, n_tokens, logprob_micro,
       round(logprob_micro / 1000000.0 / n_tokens, 6) AS avg_logprob,
       round(exp(-(logprob_micro / 1000000.0 / n_tokens)), 3) AS perplexity,
       CAST(ntile(3) OVER (PARTITION BY lang ORDER BY
            round(exp(-(logprob_micro / 1000000.0 / n_tokens)), 3), doc_id)
         AS INT) AS ppl_bucket
FROM per_doc
""",
        # packed layout materialized to bytes: same span arithmetic as
        # packed_manifest but over length(text), slices string_agg'd in
        # seq_pos order; zero-take slices are concat-identity in both
        # engines
        "assembled_sequences": """
WITH docs AS (
  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS L
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
),
pos AS (
  SELECT doc_id, lang, text, L,
         COALESCE(SUM(L) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM docs
),
spans AS (
  SELECT doc_id, lang, text, L,
         CAST(before // 4096 AS BIGINT) AS seq0,
         CAST(before % 4096 AS BIGINT) AS seq_offset,
         CASE WHEN L <= 0 THEN 1
              ELSE (seq_offset + L - 1) // 4096 + 1 END AS n_spans
  FROM pos
),
sl AS (
  SELECT lang, text,
         CAST(seq0 + j AS BIGINT) AS seq_id,
         CAST(CASE WHEN j = 0 THEN seq_offset ELSE 0 END AS BIGINT) AS seq_pos,
         CAST(CASE WHEN j = 0 THEN 0
                   ELSE 4096 - seq_offset + (j - 1) * 4096 END AS BIGINT)
           AS take_from,
         CAST(least(L - (CASE WHEN j = 0 THEN 0
                              ELSE 4096 - seq_offset + (j - 1) * 4096 END),
                    CASE WHEN j = 0 THEN 4096 - seq_offset ELSE 4096 END)
              AS BIGINT) AS take_len
  FROM spans, unnest(generate_series(0, n_spans - 1)) AS t(j)
)
SELECT lang, seq_id,
       CAST(sum(take_len) AS BIGINT) AS seq_tokens,
       md5(string_agg(substr(text, CAST(take_from + 1 AS INT),
                             CAST(take_len AS INT)), ''
                      ORDER BY seq_pos)) AS content_md5
FROM sl GROUP BY lang, seq_id
""",
        "packed_sequences": """
SELECT doc_id, lang,
       CAST(before // 4096 AS BIGINT) AS seq_id,
       CAST(before % 4096 AS BIGINT) AS seq_offset
FROM (
  SELECT doc_id, lang,
         COALESCE(SUM(CAST(COALESCE(n_chars, 0) AS BIGINT)) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM documents WHERE lang IS NOT NULL
)
""",
        "dup_segment_stats": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_segments,
       round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')), 4) AS dup_segment_frac
FROM documents WHERE text IS NOT NULL
""",
        "chi2_lang_drift": """
WITH counts AS (
  SELECT lang,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS e,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
tot AS (SELECT CAST(sum(e) AS DOUBLE) AS n_e, CAST(sum(a) AS DOUBLE) AS n_a FROM counts)
SELECT round(sum(
         pow(e - (e + a) * n_e / (n_e + n_a), 2) / ((e + a) * n_e / (n_e + n_a))
       + pow(a - (e + a) * n_a / (n_e + n_a), 2) / ((e + a) * n_a / (n_e + n_a))
       ), 4) AS statistic,
       CAST(count(*) - 1 AS BIGINT) AS dof
FROM counts, tot
WHERE e + a > 0
""",
        "cross_doc_spans": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents WHERE text IS NOT NULL
),
blocks AS (
  SELECT DISTINCT doc_id,
         array_to_string(a[(u.i-1)*6+1 : (u.i-1)*6+6], ' ') AS block
  FROM toks, unnest(generate_series(1, CAST(floor(len(a)/6) AS BIGINT))) AS u(i)
),
cnt AS (SELECT block, count(*) AS n_docs FROM blocks GROUP BY block)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_spans,
       round(CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS shared_frac
FROM blocks b JOIN cnt c USING (block)
GROUP BY b.doc_id
""",
        "span_contamination": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents WHERE text IS NOT NULL
),
blocks AS (
  SELECT DISTINCT doc_id,
         array_to_string(a[(u.i-1)*6+1 : (u.i-1)*6+6], ' ') AS block
  FROM toks, unnest(generate_series(1, CAST(floor(len(a)/6) AS BIGINT))) AS u(i)
),
bench AS (SELECT DISTINCT block FROM blocks WHERE doc_id % 10 = 0),
corpus AS (SELECT doc_id, block FROM blocks WHERE doc_id % 10 != 0)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN b.block IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_spans,
       round(CAST(sum(CASE WHEN b.block IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS contamination_frac
FROM corpus c LEFT JOIN bench b USING (block)
GROUP BY c.doc_id
""",
        "host_stats": r"""
WITH urls AS (
  SELECT 'https://'
         || CASE WHEN doc_id % 2 = 0 THEN 'hot.example'
                 ELSE 'h' || CAST(doc_id % 37 AS VARCHAR) || '.example' END
         || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
hosts AS (
  SELECT regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS host,
         url
  FROM urls WHERE url IS NOT NULL
)
SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_urls
FROM hosts WHERE host <> ''
GROUP BY host
ORDER BY n_docs DESC, host ASC LIMIT 10
""",
        "iqr_outliers": """
WITH b AS (SELECT quantile_cont(c_acctbal, 0.25) AS q1,
                  quantile_cont(c_acctbal, 0.75) AS q3 FROM customer)
SELECT c_custkey, c_acctbal FROM customer, b
WHERE c_acctbal < q1 - 1.5 * (q3 - q1) OR c_acctbal > q3 + 1.5 * (q3 - q1)
""",
        "anomaly_outliers": """
WITH b AS (
  SELECT quantile_cont(c_acctbal, 0.25) AS q1, quantile_cont(c_acctbal, 0.75) AS q3,
         avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd
  FROM customer
)
SELECT c_custkey, c_acctbal,
       CAST(c_acctbal < q1 - 1.5*(q3-q1) OR c_acctbal > q3 + 1.5*(q3-q1) AS INT) AS by_iqr,
       CAST(abs((c_acctbal - mu) / sd) > 3.0 AS INT) AS by_zscore
FROM customer, b
WHERE (c_acctbal < q1 - 1.5*(q3-q1) OR c_acctbal > q3 + 1.5*(q3-q1))
   OR abs((c_acctbal - mu) / sd) > 3.0
""",
        "correlation": """
SELECT round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
       round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc
FROM lineitem
""",
        "distribution_shape": """
WITH m AS (
  SELECT avg(x) AS a1, avg(x*x) AS a2, avg(x*x*x) AS a3, avg(x*x*x*x) AS a4
  FROM (SELECT o_totalprice / 100000.0 AS x FROM orders)
)
SELECT round(a1, 6) AS mean_scaled,
       round(a2 - a1*a1, 6) AS var_scaled,
       round((a3 - 3*a1*a2 + 2*a1*a1*a1) / pow(a2 - a1*a1, 1.5), 4) AS skewness_g1,
       round((a4 - 4*a1*a3 + 6*a1*a1*a2 - 3*a1*a1*a1*a1)
             / ((a2 - a1*a1) * (a2 - a1*a1)) - 3, 4) AS kurtosis_g2
FROM m
""",
        "trend_slope": """
SELECT round(regr_slope(value, FLOOR(epoch(ts)) / 86400.0), 6) AS slope_per_day,
       round(corr(FLOOR(epoch(ts)) / 86400.0, value), 6) AS corr_time_value
FROM events
""",
        "psi_drift": f"""
WITH {binned}
SELECT round(sum((pa - pe) * ln(pa / pe)), 6) AS psi FROM fr
""",
        "ks_drift": f"""
WITH {binned},
cdf AS (
  SELECT abs(sum(pe) OVER (ORDER BY bucket) - sum(pa) OVER (ORDER BY bucket)) AS d
  FROM fr
)
SELECT round(max(d), 6) AS ks FROM cdf
""",
        "reconcile_orders": """
WITH per_order AS (
  SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS net
  FROM lineitem GROUP BY 1
)
SELECT count(*) AS n_checked,
       CAST(sum(CASE WHEN abs(o_totalprice - COALESCE(net, 0.0)) > 0.01
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
""",
        "arrow_custom_rule": """
WITH tot AS (SELECT count(*) AS total_rows FROM events)
SELECT 'uid_even' AS rule_id, 'user_id' AS column,
       count(user_id) AS evaluated,
       CAST(sum(CASE WHEN user_id IS NOT NULL AND NOT (user_id % 2 = 0)
                THEN 1 ELSE 0 END) AS BIGINT) AS violations,
       tot.total_rows,
       CASE WHEN count(user_id) > 0
            THEN CAST(sum(CASE WHEN user_id IS NOT NULL AND NOT (user_id % 2 = 0)
                      THEN 1 ELSE 0 END) AS BIGINT) / count(user_id)
            ELSE 0.0 END AS violation_rate
FROM events, tot GROUP BY tot.total_rows
""",
        "data_type_conformance": """
WITH tot AS (SELECT count(*) AS total_rows FROM events),
per_rule AS (
  SELECT 'props_not_numeric' AS rule_id, 'props' AS column,
         count(props) AS evaluated,
         CAST(sum(CASE WHEN props IS NOT NULL AND TRY_CAST(props AS DOUBLE) IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS violations
  FROM events
  UNION ALL
  SELECT 'value_is_numeric', 'value', count(value),
         CAST(sum(CASE WHEN value IS NOT NULL AND TRY_CAST(value AS DOUBLE) IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
)
SELECT rule_id, "column", evaluated, violations, tot.total_rows,
       CASE WHEN evaluated > 0 THEN violations / evaluated ELSE 0.0 END AS violation_rate
FROM per_rule, tot
""",
        "category_set_drift": """
WITH base AS (SELECT DISTINCT event_type FROM events),
cur AS (SELECT DISTINCT event_type FROM events WHERE value > 480)
SELECT event_type AS value, 'missing_in_current' AS change
FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM cur)
UNION ALL
SELECT event_type, 'new_in_current'
FROM (SELECT * FROM cur EXCEPT ALL SELECT * FROM base)
""",
        "daily_event_stats": """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(avg(value) + 1e-9, 4) AS avg_value,  -- midpoint nudge, both sides
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
        "profile_delta_drift": """
WITH s AS (
  SELECT CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_b,
         count(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value END) AS ndv_b,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_c,
         count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value END) AS ndv_c
  FROM events
),
p AS (
  SELECT round((n_b - nn_b) * 100.0 / n_b, 4) AS null_pct_base,
         round(ndv_b * 100.0 / n_b, 4) AS uniq_pct_base,
         round((n_c - nn_c) * 100.0 / n_c, 4) AS null_pct_cur,
         round(ndv_c * 100.0 / n_c, 4) AS uniq_pct_cur
  FROM s
)
SELECT 'value' AS column, null_pct_base, null_pct_cur, uniq_pct_base, uniq_pct_cur,
       CAST(abs(null_pct_cur - null_pct_base) > 5.0 AS INT) AS null_drift,
       CAST(abs(uniq_pct_cur - uniq_pct_base) > 5.0 AS INT) AS uniq_drift
FROM p
""",
        "sessionization": """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR FLOOR(epoch(ts)) - FLOOR(epoch(lag(ts) OVER w)) >= 600
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM g
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events FROM s GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM per_session GROUP BY 1
""",
        "json_extract_stats": """
SELECT count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(COALESCE(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
""",
        "unique_violation_groups": """
SELECT source, lang, count(*) AS dup_count FROM documents
WHERE source IS NOT NULL AND lang IS NOT NULL
GROUP BY 1, 2 HAVING count(*) > 1
""",
        "unique_violation_rows": """
WITH dups AS (
  SELECT source, lang FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1, 2 HAVING count(*) > 1
)
SELECT d.source, d.lang, d.doc_id
FROM documents d SEMI JOIN dups u ON d.source = u.source AND d.lang = u.lang
""",
        "null_counts": " UNION ALL ".join(
            f"""SELECT '{c}' AS column,
CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
count(*) AS total_rows FROM orders"""
            for c in ["o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice", "o_orderdate", "o_orderpriority"]
        ),
        "string_length_stats": """
SELECT count(text) AS n,
       CAST(min(len(text)) AS BIGINT) AS min_len,
       CAST(max(len(text)) AS BIGINT) AS max_len,
       round(avg(len(text)), 4) AS avg_len
FROM documents
""",
        "temporal_profile": """
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
       round((FLOOR(epoch(max(ts))) - FLOOR(epoch(min(ts)))) / 86400.0, 4)
         AS span_days
FROM events
""",
        "orphan_recent_orders": """
SELECT count(*) AS orphan_count, count(DISTINCT o.o_custkey) AS distinct_orphan_keys
FROM (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey
WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
""",
        "dedup_jaccard": _JACCARD,
        "dedup_clusters": f"""
WITH RECURSIVE {_SHINGLES},
sizes AS (SELECT id, count(*) AS sz FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS cluster
FROM reach GROUP BY id
""",
        "minhash_signatures": f"""
WITH {_SHINGLES}
SELECT id, {minhash_cols_sql} FROM shingles GROUP BY id
""",
        "dedup_minhash_lsh": f"""
WITH {_SHINGLES},
sigs AS (
  SELECT id, {', '.join(f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(8))}
  FROM shingles GROUP BY id
),
bands AS (
  {' UNION ALL '.join(f"SELECT id, {j} AS band_idx, mh_{2*j} || '|' || mh_{2*j+1} AS band_key FROM sigs" for j in range(4))}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS sz FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
verified AS (
  SELECT id_a, id_b,
         round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.2
)
SELECT v.* FROM verified v SEMI JOIN cands c
  ON v.id_a = c.id_a AND v.id_b = c.id_b
""",
        "simhash_bits": f"WITH {_simhash_sql(8)} SELECT * FROM simhash",
        "simhash_pairs": f"""
WITH {_simhash_sql(32)}
SELECT a.id AS id_a, b.id AS id_b,
       CAST({' + '.join(f'abs(a.bit_{i} - b.bit_{i})' for i in range(32))} AS BIGINT) AS hamming
FROM simhash a JOIN simhash b ON a.id < b.id
WHERE {' + '.join(f'abs(a.bit_{i} - b.bit_{i})' for i in range(32))} <= 3
""",
        "embedding_near_dups": f"""
WITH {_embedding_lsh_sql(dim=64, bands=8, bits=4, seed=1, max_bucket=1000)}
SELECT c.id_a, c.id_b, {_COS} AS cosine
FROM cands c
JOIN embeddings a ON a.vec_id = c.id_a
JOIN embeddings b ON b.vec_id = c.id_b
WHERE {_COS} >= 0.4
""",
        "ann_topk": f"""
WITH scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_COS} AS cosine
  FROM embeddings a JOIN embeddings b
    ON b.vec_id < 5 AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
""",
        "ann_bucketed": f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         CAST(embedding[1] >= 0 AS INT) || CAST(embedding[2] >= 0 AS INT) ||
         CAST(embedding[3] >= 0 AS INT) || CAST(embedding[4] >= 0 AS INT) AS bucket
  FROM embeddings
),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_COS} AS cosine
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND b.vec_id < 5 AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
""",
        "token_stats": f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE}')) AS BIGINT) AS n_subtokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
       round(CAST(len(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS mean_token_len
FROM documents WHERE text IS NOT NULL
""",
        "quality_scores": f"""
WITH q AS (
  SELECT doc_id,
         round(LEAST(CAST(len(text) AS DOUBLE) / 500.0, 1.0), 4) AS len_score,
         round(CAST(len(regexp_extract_all(text, '{_PUNCT}')) AS DOUBLE)
           / CAST(len(text) AS DOUBLE), 4) AS punct_ratio,
         round(CAST(len(list_filter(string_split(text, ' '), x -> x IN {_EN})) AS DOUBLE)
           / len(string_split(text, ' ')), 4) AS stop_ratio,
         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')), 4) AS diversity
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, len_score, punct_ratio, stop_ratio, diversity,
       round(0.25 * len_score + 0.25 * (1.0 - LEAST(punct_ratio * 5, 1.0))
             + 0.25 * LEAST(stop_ratio * 5, 1.0) + 0.25 * diversity
             + 1e-9, 4) AS quality  -- midpoint nudge, both sides
FROM q
""",
        "lang_id": """
WITH h AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS hits_en,
    CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','los','que'))) AS BIGINT) AS hits_es,
    CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','des','une'))) AS BIGINT) AS hits_fr,
    CAST(len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ein'))) AS BIGINT) AS hits_de,
    CAST(len(list_filter(string_split(text,' '), x -> x IN ('的','是','了','在','我'))) AS BIGINT) AS hits_zh
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, hits_en, hits_es, hits_fr, hits_de, hits_zh,
  -- NULL text rows are filtered on both sides (NULL-skip contract)
  CASE WHEN GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_zh) = 0 THEN 'und'
       WHEN hits_en = GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_zh) THEN 'en'
       WHEN hits_es = GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_zh) THEN 'es'
       WHEN hits_fr = GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_zh) THEN 'fr'
       WHEN hits_de = GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_zh) THEN 'de'
       ELSE 'zh' END AS pred_lang
FROM h
""",
        "fingerprints": r"""
SELECT doc_id, md5(text) AS fp_raw,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_norm
FROM documents
""",
        "top_bigrams": """
WITH grams AS (
  SELECT doc_id,
         CASE WHEN len(arr) >= 2 THEN array_to_string(arr[i:i+1], ' ')
              ELSE array_to_string(arr, ' ') END AS bigram
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        WHERE text IS NOT NULL) t,
       unnest(generate_series(1, GREATEST(len(arr) - 1, 1))) AS u(i)
)
SELECT bigram, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
FROM grams GROUP BY 1
ORDER BY occurrences DESC, bigram ASC LIMIT 20
""",
        "repetition_stats": """
WITH grams AS (
  SELECT doc_id,
         CASE WHEN len(arr) >= 2 THEN array_to_string(arr[i:i+1], ' ')
              ELSE array_to_string(arr, ' ') END AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        WHERE text IS NOT NULL) t,
       unnest(generate_series(1, GREATEST(len(arr) - 1, 1))) AS u(i)
),
counts AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(max(c) AS BIGINT) AS top_gram_n
  FROM counts GROUP BY 1
)
SELECT doc_id, n_grams, top_gram_n,
       round(CAST(top_gram_n AS DOUBLE) / n_grams, 4) AS top_gram_frac,
       CAST(round(CAST(top_gram_n AS DOUBLE) / n_grams, 4) > 0.18 AS INT)
         AS f_repetitive
FROM per_doc
""",
        "gopher_quality": f"""
WITH q AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         round(CAST(list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS DOUBLE)
               / len(string_split(text, ' ')), 4) AS mean_word_len,
         round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
               / len(string_split(text, ' ')), 4) AS sym_ratio,
         len(list_filter(string_split(text, ' '), x -> x IN {_EN})) AS stops
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, n_words, mean_word_len,
       CAST(n_words < 5 OR n_words > 100000 AS INT) AS f_word_count,
       CAST(mean_word_len < 2.0 OR mean_word_len > 12.0 AS INT) AS f_mean_word_len,
       CAST(sym_ratio > 0.1 AS INT) AS f_symbol_ratio,
       CAST(stops < 1 AS INT) AS f_no_stopword,
       CAST(NOT ((n_words < 5 OR n_words > 100000)
                 OR (mean_word_len < 2.0 OR mean_word_len > 12.0)
                 OR sym_ratio > 0.1 OR stops < 1) AS INT) AS keep
FROM q
""",
        # Recompute each SparkTestRunner assertion verdict in ANSI SQL:
        # one row per test, status = all-assertions-passed.
        "sql_testsuite": """
SELECT 'region_row_count' AS test_name,
       CASE WHEN count(*) = 5
                 AND count(r_regionkey) = count(DISTINCT r_regionkey)
            THEN 'passed' ELSE 'failed' END AS status,
       CAST(3 AS BIGINT) AS n_assertions,
       CAST(CASE WHEN count(*) = 5 THEN 1 ELSE 0 END
            + CASE WHEN count(r_regionkey) = count(DISTINCT r_regionkey)
                   THEN 1 ELSE 0 END
            + 1 AS BIGINT) AS n_passed  -- schema_matches: static, passes
FROM region
UNION ALL
SELECT 'orders_pk_unique',
       CASE WHEN count(o_orderkey) = count(DISTINCT o_orderkey)
                 AND count(*) >= 1 THEN 'passed' ELSE 'failed' END,
       CAST(2 AS BIGINT),
       CAST(CASE WHEN count(o_orderkey) = count(DISTINCT o_orderkey)
                 THEN 1 ELSE 0 END
            + CASE WHEN count(*) >= 1 THEN 1 ELSE 0 END AS BIGINT)
FROM orders
UNION ALL
SELECT 'totalprice_range',
       CASE WHEN min(o_totalprice) >= 0 AND max(o_totalprice) <= 1000000
            THEN 'passed' ELSE 'failed' END,
       CAST(1 AS BIGINT),
       CAST(CASE WHEN min(o_totalprice) >= 0 AND max(o_totalprice) <= 1000000
                 THEN 1 ELSE 0 END AS BIGINT)
FROM orders
UNION ALL
SELECT 'inline_users_avg',
       CASE WHEN abs((30 + 25 + 35) / 3.0 - 30.0) <= 0.001
            THEN 'passed' ELSE 'failed' END,
       CAST(1 AS BIGINT),
       CAST(CASE WHEN abs((30 + 25 + 35) / 3.0 - 30.0) <= 0.001
                 THEN 1 ELSE 0 END AS BIGINT)
UNION ALL
SELECT 'orders_expected_empty',
       CASE WHEN count(*) = 0 THEN 'passed' ELSE 'failed' END,
       CAST(1 AS BIGINT),
       CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS BIGINT)
FROM (SELECT * FROM orders LIMIT 10)
""",
    }
