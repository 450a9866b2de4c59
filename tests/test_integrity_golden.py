"""Golden fixtures #3/#5 (FIXTURES.md) — uniqueness + referential
integrity with planted violations at exact positions."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkcheck.compile import summary_df
from sparkcheck.integrity import (
    duplicate_key_counts,
    duplicate_violation_rows,
    orphan_rows,
    orphan_summary,
    uniqueness_summary,
)
from sparkcheck.rules import NullCheckRule


def test_emails_streaming_golden(spark):
    # FIXTURES §3: 250 emails, NULL when i % 60 == 0 (i in 0..249)
    # ⇒ exactly 5 not_null failures; max violating 1-based row = 241.
    rows = [(i + 1, None if i % 60 == 0 else f"user{i}@example.com") for i in range(250)]
    df = spark.createDataFrame(rows, "id int, email string")
    s = summary_df(df, [NullCheckRule(name="email_not_null", column="email")]).collect()[0]
    assert s["total_rows"] == 250
    assert s["violations"] == 5
    viol_ids = [r["id"] for r in df.where(F.col("email").isNull()).collect()]
    assert max(viol_ids) == 241


def test_uniqueness_with_planted_duplicates(spark):
    # customers with a duplicated customer_id (FIXTURES §5)
    rows = [(i, f"c{i}@x.com") for i in range(100)] + [(7, "dup@x.com"), (7, "dup2@x.com")]
    df = spark.createDataFrame(rows, "customer_id int, email string")
    s = uniqueness_summary(df, ["customer_id"]).collect()[0]
    assert s["total_keys"] == 102
    assert s["distinct_keys"] == 100
    assert s["duplicate_excess"] == 2  # COUNT − COUNT DISTINCT

    dups = duplicate_key_counts(df, ["customer_id"]).collect()
    assert len(dups) == 1 and dups[0]["customer_id"] == 7 and dups[0]["dup_count"] == 3

    # keep=False semantics: ALL 3 copies flagged
    vrows = duplicate_violation_rows(df, ["customer_id"], extra_cols=["email"]).collect()
    assert len(vrows) == 3
    assert all(r["customer_id"] == 7 for r in vrows)


def test_uniqueness_nulls_exempt(spark):
    df = spark.createDataFrame(
        [(None,), (None,), (1,), (2,)], "k int"
    )
    s = uniqueness_summary(df, ["k"]).collect()[0]
    assert s["total_keys"] == 2 and s["duplicate_excess"] == 0
    assert duplicate_key_counts(df, ["k"]).count() == 0


def test_salted_two_phase_matches_plain(spark):
    rows = [(i % 10, i) for i in range(1000)]  # every key duplicated 100×
    df = spark.createDataFrame(rows, "k int, v int")
    plain = {r["k"]: r["dup_count"] for r in duplicate_key_counts(df, ["k"]).collect()}
    salted = {r["k"]: r["dup_count"] for r in duplicate_key_counts(df, ["k"], salted=True).collect()}
    assert plain == salted and plain[0] == 100


def test_referential_integrity_orphans(spark):
    customers = spark.createDataFrame([(i,) for i in range(50)], "c_id int")
    orders = spark.createDataFrame(
        [(100 + i, i % 60) for i in range(120)] + [(999, None)],
        "o_id int, c_id int",
    )
    # FKs 50..59 have no parent: i%60 in 50..59 occurs for i=50..59 and 110..119 ⇒ 20 orphans
    got = orphan_rows(orders, "c_id", customers, "c_id", broadcast_parent=True)
    assert got.count() == 20
    s = orphan_summary(orders, "c_id", customers, "c_id").collect()[0]
    assert s["orphan_count"] == 20 and s["distinct_orphan_keys"] == 10
    # NULL FK is not an orphan (reference: WHERE c.fk IS NOT NULL)
    assert got.where(F.col("c_id").isNull()).count() == 0


def test_orphan_broadcast_plan(spark):
    customers = spark.createDataFrame([(i,) for i in range(50)], "c_id int")
    orders = spark.createDataFrame([(i, i % 60) for i in range(120)], "o_id int, c_id int")
    plan = orphan_rows(orders, "c_id", customers, "c_id", broadcast_parent=True)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_distinct_count_by_key_salted_parity(spark):
    from sparkcheck.integrity import distinct_count_by_key
    from pyspark.sql import functions as F

    # skewed: key 'hot' holds half the rows; urls unique per row except
    # planted repeats so ndv < count
    df = spark.range(2000).select(
        F.when(F.col("id") < 1000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))).alias("k"),
        (F.col("id") % 900).cast("string").alias("v"),
    )
    plain = {r["k"]: r["ndv"] for r in distinct_count_by_key(df, "k", "v").collect()}
    salted = {r["k"]: r["ndv"] for r in
              distinct_count_by_key(df, "k", "v", salted=True, salt_buckets=16).collect()}
    assert plain == salted
    assert plain["hot"] == 900


def test_fk_candidate_inference(spark):
    """Inclusion-dependency FK inference (integrity/fk.py, closing the
    reference schema_introspector.py:168-455 FK surface): contained
    columns flagged, near-contained ones carry the containment ratio,
    auto-enumeration prunes by type, and distinct-vs-distinct anti-joins
    never touch full rows."""
    from sparkcheck.integrity import fk_containment, infer_foreign_keys

    dim = spark.createDataFrame([(i, f"n{i}") for i in range(10)],
                                "dim_id long, name string")
    fact = spark.createDataFrame(
        [(i, i % 10, f"e{i}") for i in range(100)] + [(100, 99, "e100")],
        "fact_id long, dim_ref long, label string")  # one orphan ref (99)

    one = fk_containment(fact, "dim_ref", dim, "dim_id").collect()[0]
    assert (one["child_distinct"], one["missing_distinct"]) == (11, 1)
    assert abs(one["containment"] - round(1 - 1 / 11, 6)) < 1e-9

    tables = {"dim": dim, "fact": fact}
    rep = {(r["child_table"], r["child_column"]): r
           for r in infer_foreign_keys(
               tables, keys={"dim": "dim_id"}, min_containment=0.9).collect()}
    # auto-enumeration: only long columns tested against the long key;
    # the key itself excluded; string columns never enumerated
    assert set(rep) == {("fact", "fact_id"), ("fact", "dim_ref")}
    assert rep[("fact", "dim_ref")]["is_fk_candidate"]      # 10/11 ≥ 0.9
    assert not rep[("fact", "fact_id")]["is_fk_candidate"]  # 0..100 ⊄ 0..9
    # strict inclusion: the orphan ref disqualifies
    strict = {(r["child_table"], r["child_column"]): r["is_fk_candidate"]
              for r in infer_foreign_keys(
                  tables, keys={"dim": "dim_id"}).collect()}
    assert not strict[("fact", "dim_ref")]

    import pytest as _pytest
    with _pytest.raises(KeyError):
        infer_foreign_keys(tables, keys={"nope": "x"})
    with _pytest.raises(ValueError):
        infer_foreign_keys({"dim": dim}, keys={"dim": "name"},
                           candidates=[])


def test_fk_strict_verdict_not_fooled_by_rounding(spark):
    """Review fix: the displayed containment rounds to 6 dp, so at
    ndv > ~2M one orphan rounds to containment 1.0 — the strict verdict
    must come from the raw counts, matching the oracle's
    missing_distinct = 0."""
    from pyspark.sql import functions as F

    from sparkcheck.integrity import infer_foreign_keys

    parent = spark.range(2_100_000).select(F.col("id").alias("pid"))
    child = spark.range(2_100_001).select(F.col("id").alias("ref"))  # 1 orphan
    row = infer_foreign_keys(
        {"p": parent, "c": child}, keys={"p": "pid"},
        candidates=[("c", "ref", "p")],
    ).collect()[0]
    assert row["containment"] == 1.0          # rounded display value
    assert row["missing_distinct"] == 1
    assert not row["is_fk_candidate"]         # verdict from counts, not display
