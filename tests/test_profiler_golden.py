"""Golden fixture #2 (FIXTURES.md §2) — the reference profiler streaming
test (reference tests/modules/profiler/test_profiler_streaming.py:12-62):
1200 rows, every 100th category NULL ⇒ exact totals/min/max/null counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcheck.profile import histogram, profile_table, top_k, pattern_match_rates


def numbers_df(spark):
    rows = [
        (i, i, None if i % 100 == 0 else ("even" if i % 2 == 0 else "odd"))
        for i in range(1200)
    ]
    return spark.createDataFrame(rows, "id int, value int, category string")


def test_profile_golden_expectations(spark):
    p = profile_table(numbers_df(spark), "numbers", approx_distinct=False)
    assert p.total_rows == 1200
    v = p.columns["value"]
    assert v.min_value == 0 and v.max_value == 1199
    assert v.null_count == 0
    assert len(v.histogram) > 0
    assert sum(b["count"] for b in v.histogram) == 1200
    c = p.columns["category"]
    assert c.null_count == 12
    assert abs(c.null_percentage - 12 / 1200 * 100) < 1e-12
    assert c.distinct_count == 2
    # mean of 0..1199 = 599.5; pandas-style SAMPLE stddev
    assert abs(v.mean - 599.5) < 1e-9
    assert abs(v.stddev - 346.5545) < 1e-3


def test_histogram_clamps_max_into_last_bin(spark):
    df = spark.createDataFrame([(float(i),) for i in range(11)], "v double")
    rows = histogram(df, "v", bins=10, lo=0.0, hi=10.0).collect()
    buckets = {r["bucket"]: r["bucket_count"] for r in rows}
    # v=10 (the max) lands in bucket 9, not a phantom bucket 10
    assert buckets[9] == 2 and sum(buckets.values()) == 11
    assert max(buckets) == 9


def test_top_k_deterministic_ties(spark):
    df = numbers_df(spark)
    rows = top_k(df, "category", k=2).collect()
    # i % 100 == 0 rows (12 of them) are all even ⇒ even 588, odd 600
    assert [(r["value"], r["value_count"]) for r in rows] == [("odd", 600), ("even", 588)]


def test_pattern_detection(spark):
    rows = [(f"user{i}@example.com",) for i in range(90)] + [("not-an-email",)] * 10
    df = spark.createDataFrame(rows, "email string")
    p = profile_table(df, "t", approx_distinct=False)
    pats = {d["pattern"]: d["confidence"] for d in p.columns["email"].patterns}
    assert "email" in pats and abs(pats["email"] - 0.9) < 1e-12
    rates = {r["pattern"]: r["match_rate"] for r in pattern_match_rates(df, "email").collect()}
    assert abs(rates["email"] - 0.9) < 1e-12
    assert rates["uuid"] == 0.0


def test_merge_profiles_matches_whole_table(spark):
    """Profiling two halves and merging == profiling the whole (for the
    mergeable statistics)."""
    from pyspark.sql import functions as F
    from sparkcheck.profile import profile_table
    from sparkcheck.profile.merge import merge_profiles

    df = spark.range(2000).select(
        (F.col("id") % 97).cast("double").alias("v"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.lit("s")).alias("s"),
    )
    a = df.where(F.col("v") < 50)
    b = df.where(F.col("v") >= 50)
    # merged histograms need identical edges — profile halves on the
    # whole-table bounds (exactly the incremental-batch workflow)
    whole = profile_table(df, table_name="t")
    bounds = {"v": (whole.columns["v"].histogram_lo, whole.columns["v"].histogram_hi)}
    merged = merge_profiles(
        profile_table(a, table_name="t", histogram_bounds=bounds),
        profile_table(b, table_name="t", histogram_bounds=bounds),
    )
    assert merged.total_rows == whole.total_rows
    mv, wv = merged.columns["v"], whole.columns["v"]
    assert (mv.null_count, mv.non_null_count) == (wv.null_count, wv.non_null_count)
    assert (mv.min_value, mv.max_value) == (wv.min_value, wv.max_value)
    assert abs(mv.mean - wv.mean) < 1e-9
    assert abs(mv.stddev - wv.stddev) < 1e-9
    assert [h["count"] for h in mv.histogram] == [h["count"] for h in wv.histogram]
    ms, ws = merged.columns["s"], whole.columns["s"]
    assert ms.null_count == ws.null_count == 200
    assert mv.distinct_count is None and mv.quartiles is None  # honest non-merge


def test_hll_sketches_merge_across_batches(spark):
    """Per-batch HLL sketches union to a corpus estimate within ~2% of
    exact — the mergeable-ndv path merge_profiles points to."""
    from pyspark.sql import functions as F
    from sparkcheck.profile.sketches import merge_ndv_sketches, ndv_sketches

    df = spark.range(10000).select(
        "id",
        (F.col("id") % 3333).alias("k"),
        ((F.col("id") % 2500) / 4).cast("decimal(10,2)").alias("amount"),
        F.date_add(F.lit("1995-01-01").cast("date"), (F.col("id") % 2000).cast("int"))
        .alias("day"),
    )
    a = df.where(F.col("id") < 6000)
    b = df.where(F.col("id") >= 6000)
    cols = ["k", "amount", "day"]
    batches = ndv_sketches(a, cols).unionByName(ndv_sketches(b, cols))
    est = merge_ndv_sketches(batches, cols).collect()[0]
    for c, exact in [("k", 3333), ("amount", 2500), ("day", 2000)]:
        assert abs(est[f"{c}__ndv"] - exact) / exact < 0.02, (c, est[f"{c}__ndv"])


def test_profile_is_three_actions_regardless_of_columns(spark):
    """The fused profiler runs a CONSTANT number of jobs (3 actions:
    stats agg, fused histograms, fused top-k) no matter how many columns
    — the round-1 shape ran ~2 jobs per column (≥40 for this table)."""
    import pyspark.sql.functions as F

    n_num, n_str = 10, 10
    df = spark.range(500).select(
        *[(F.col("id") * (i + 1)).cast("double").alias(f"num{i}") for i in range(n_num)],
        *[F.concat(F.lit(f"v{i}_"), (F.col("id") % 7).cast("string")).alias(f"str{i}")
          for i in range(n_str)],
    )
    st = spark.sparkContext.statusTracker()
    all_jobs_before = max(st.getJobIdsForGroup() or [-1])
    p = profile_table(df, detect_patterns=False)
    all_jobs_after = max(st.getJobIdsForGroup() or [-1])
    njobs = all_jobs_after - all_jobs_before
    assert njobs <= 12, f"expected ≤12 Spark jobs (3 actions + AQE stages), got {njobs}"
    # and the fused results are complete + correct
    assert all(p.columns[f"num{i}"].histogram for i in range(n_num))
    assert all(len(p.columns[f"str{i}"].top_values) == 7 for i in range(n_str))
    assert sum(b["count"] for b in p.columns["num0"].histogram) == 500


def test_top_k_all_matches_per_column_top_k(spark):
    import pyspark.sql.functions as F

    df = spark.range(1000).select(
        (F.col("id") % 13).cast("string").alias("a"),
        (F.col("id") % 3 == 0).alias("b"),
    )
    fused = {}
    from sparkcheck.profile import top_k_all
    for r in top_k_all(df, ["a", "b"], k=5).collect():
        fused.setdefault(r["column"], []).append((r["value"], r["value_count"]))
    for c in ["a", "b"]:
        single = [(str(r["value"]).lower() if c == "b" else r["value"], r["value_count"])
                  for r in top_k(df, c, k=5).collect()]
        assert fused[c] == single, c


def test_pattern_examples_deterministic_min3(spark):
    import pyspark.sql.functions as F
    from sparkcheck.profile import pattern_examples

    rows = [(f"user{i:02d}@ex.com",) for i in range(20)] + [("not-an-email",)] * 5
    df = spark.createDataFrame(rows, ["v"])
    got = pattern_examples(df, "v", k=3).orderBy("pattern", "example_rank").collect()
    assert [r["pattern"] for r in got] == ["email"] * 3
    assert [r["example_value"] for r in got] == [
        "user00@ex.com", "user01@ex.com", "user02@ex.com"]
    assert all(abs(r["match_rate"] - 0.8) < 1e-9 for r in got)
    # below the 10% gate ⇒ no examples
    sparse = spark.createDataFrame(
        [("a@b.co",)] + [("plain",)] * 99, ["v"])
    assert pattern_examples(sparse, "v", k=3).count() == 0


def test_pk_candidate_inference(spark):
    """PK-candidate enrichment (reference profiler/__init__.py:258-269):
    exact ndv ⇒ a true PK is flagged, a near-PK (one dup) and a nullable
    unique column are not; the profile HTML shows the badge."""
    from sparkcheck.profile import profile_table

    n = 200
    rows = [
        (i,                      # pk: unique, no nulls
         i if i else 1,          # near_pk: one duplicate value (0→1)
         None if i == 7 else i,  # nullable_unique: distinct but has a null
         "x")                    # constant
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "pk long, near_pk long, nullable_unique long, const string")
    prof = profile_table(df, approx_distinct=False, detect_patterns=False,
                         with_histograms=False, with_top_k=False)
    assert prof.columns["pk"].pk_candidate
    assert not prof.columns["near_pk"].pk_candidate
    assert not prof.columns["nullable_unique"].pk_candidate
    assert not prof.columns["const"].pk_candidate
    assert prof.primary_key_candidates == ["pk"]

    # HLL mode: the tolerance band still finds the true PK on this size
    prof_hll = profile_table(df, approx_distinct=True, detect_patterns=False,
                             with_histograms=False, with_top_k=False)
    assert prof_hll.columns["pk"].pk_candidate

    # badge rendered (and only for the PK column)
    from sparkcheck.io.html_report import render_profile_html

    doc = render_profile_html(prof)
    assert doc.count('class="pkbadge"') == 1 and ">PK?<" in doc

    # survives the JSON round-trip used by drift baselines
    from sparkcheck.profile.models import TableProfile

    back = TableProfile.from_dict(prof.to_dict())
    assert back.primary_key_candidates == ["pk"]


def test_exact_percentiles_match_percentile_aggregate(spark):
    """Round-7 pin: profiler.exact_percentiles (distributed rank
    selection + driver interpolation) is BIT-IDENTICAL to Spark's exact
    percentile() aggregate — near-unique doubles, heavy-duplicate
    ints, an all-NULL column, and a single-row column."""
    import math

    import pyspark.sql.functions as F

    from sparkcheck.profile.profiler import exact_percentiles

    df = spark.range(5000).select(
        (F.sin(F.col("id") * 12.9898) * 43758.5453).alias("uniqish"),
        (F.col("id") % 7).cast("double").alias("dupes"),
        F.lit(None).cast("double").alias("allnull"),
        F.when(F.col("id") == 0, F.lit(3.5)).alias("single"),
    )
    qs = [0.25, 0.5, 0.75]
    mine = exact_percentiles(df, ["uniqish", "dupes", "allnull", "single"], qs)
    ref = df.agg(
        *[
            F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(c)
            for c in ("uniqish", "dupes", "allnull", "single")
        ]
    ).collect()[0]
    for c in ("uniqish", "dupes", "single"):
        assert mine[c] == list(ref[c]), (c, mine[c], ref[c])
    assert mine["allnull"] == [None, None, None] and ref["allnull"] is None


def test_profile_stats_paths_identical(spark):
    """Round-7 pin: q_profile_stats' size-adaptive percentile paths
    (fused single-job percentile() below _PCT_FUSED_MAX_BYTES vs
    distributed rank selection above) return IDENTICAL rows and
    schema on the same input."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    saved = entrymod._PCT_FUSED_MAX_BYTES
    try:
        entrymod._PCT_FUSED_MAX_BYTES = 1 << 60
        small = entrymod.q_profile_stats(spark, sf)
        small_schema = small.schema.simpleString()
        small_rows = sorted(map(tuple, small.collect()))
        entrymod._PCT_FUSED_MAX_BYTES = 0
        big = entrymod.q_profile_stats(spark, sf)
        assert big.schema.simpleString() == small_schema
        assert sorted(map(tuple, big.collect())) == small_rows
    finally:
        entrymod._PCT_FUSED_MAX_BYTES = saved


def _typed_frame(spark, n, m):
    """n rows, ``m`` distinct non-NULL values in every column (bool: 2),
    one column per type the profiler's HLL image maps."""
    k = F.col("id") % m
    return spark.range(n).select(
        (k % 100).cast("tinyint").alias("b"),
        (k % 30000).cast("short").alias("s"),
        k.cast("int").alias("i"),
        k.alias("l"),
        (k % 2 == 0).alias("bo"),
        (k / 7).cast("float").alias("f"),
        (k / 7).alias("d"),
        (k / 7).cast("decimal(12,2)").alias("dec"),
        F.date_add(F.lit("2000-01-01").cast("date"), k.cast("int")).alias("dt"),
        F.timestamp_micros(k * 1000003).alias("ts"),
        F.timestamp_micros(k * 1000003).cast("timestamp_ntz").alias("tsn"),
        F.concat(F.lit("v"), k.cast("string")).alias("str"),
        F.concat(F.lit("v"), k.cast("string")).cast("binary").alias("bin"),
        F.array(k, k + 1).alias("arr"),
        F.struct(k.alias("x"), F.lit("y").alias("y")).alias("st"),
        F.create_map(F.lit("k"), k).alias("mp"),
    )


def test_profile_fused_agg_plan_has_no_hllpp_buffer(spark, monkeypatch):
    """The fused stats agg counts distinct values with the one-field
    DataSketches HLL, not HLL++: no approx_count_distinct in the executed
    plan, and the partial aggregate's output grows by a small constant
    per column, not by HLL++'s ~1.6 k register words (rsd 0.01)."""
    df = _typed_frame(spark, 200, 50)
    frame_cls = type(df)  # the classic DataFrame on Spark 4, not the ABC
    aggs = []
    agg = frame_cls.agg

    def recording_agg(self, *exprs):
        out = agg(self, *exprs)
        aggs.append(out)
        return out

    monkeypatch.setattr(frame_cls, "agg", recording_agg)

    def partial_width(plan) -> int:
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            return partial_width(plan.executedPlan())
        if "QueryStage" in name:
            return partial_width(plan.plan())
        if name.endswith("Aggregate"):
            fns = plan.aggregateExpressions()
            if fns.size() and str(fns.apply(0).mode()) == "Partial":
                return plan.output().size()
        kids = plan.children()
        widths = [partial_width(kids.apply(i)) for i in range(kids.size())]
        return max(widths, default=0)

    widths = {}
    for ncols in (8, 16):
        aggs.clear()
        profile_table(df, columns=df.columns[:ncols], with_histograms=False,
                      with_top_k=False)
        plan = aggs[0]._jdf.queryExecution().executedPlan()
        assert "approx_count_distinct" not in plan.toString()
        assert "hll_sketch_agg" in plan.toString()
        widths[ncols] = partial_width(plan)
    per_col = (widths[16] - widths[8]) / 8
    assert 0 < per_col < 40, widths


@pytest.mark.parametrize("n,m,tol", [(300, 100, 0.0), (40000, 20000, 0.03)])
def test_hll_distinct_matches_count_distinct_per_type(spark, n, m, tol):
    """approx_distinct=True equals count_distinct at ≤100 distinct values
    and stays within 3% at 20 k, for every type the HLL image maps."""
    df = _typed_frame(spark, n, m)
    prof = profile_table(df, detect_patterns=False, with_histograms=False,
                         with_top_k=False)
    cols = [c for c in df.columns if c != "mp"]  # maps are not comparable
    exact = df.agg(*[F.count_distinct(c).alias(c) for c in cols]).collect()[0].asDict()
    exact["mp"] = m
    for c, want in exact.items():
        got = prof.columns[c].distinct_count
        assert abs(got - want) <= tol * want, (c, got, want)


def test_hll_distinct_edge_cases(spark):
    """−0.0/0.0 and NaN count as count_distinct counts them; all-NULL
    columns and an empty frame give 0."""
    rows = [(0.0,), (-0.0,), (float("nan"),), (float("nan"),), (1.0,), (None,)]
    df = spark.createDataFrame(rows, "d double").select(
        "d", F.col("d").cast("float").alias("f"))
    prof = profile_table(df, with_histograms=False, with_top_k=False)
    exact = df.agg(F.count_distinct("d"), F.count_distinct("f")).collect()[0]
    assert tuple(exact) == (3, 3)
    assert prof.columns["d"].distinct_count == 3
    assert prof.columns["f"].distinct_count == 3

    nulls = spark.range(50).select(
        F.lit(None).alias("void"),
        F.lit(None).cast("double").alias("d"),
        F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("date").alias("dt"),
    )
    prof = profile_table(nulls, with_histograms=False, with_top_k=False)
    assert {c: cs.distinct_count for c, cs in prof.columns.items()} == dict.fromkeys(
        nulls.columns, 0)

    empty = _typed_frame(spark, 0, 1)
    prof = profile_table(empty, detect_patterns=False)
    assert prof.total_rows == 0
    assert all(cs.distinct_count == 0 for cs in prof.columns.values())
