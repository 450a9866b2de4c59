"""Tests for the SCALE paths' quality bounds — the approximate
counterparts of the exact operators the oracle checks.

SURVEY §7 "exactness vs approximation": at 10^12 rows profiling uses
HLL + GK sketches and ANN uses LSH buckets; these tests quantify the
divergence so the trade-off is documented, not hoped for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcheck.similarity import cosine_topk_bruteforce, cosine_topk_bucketed


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet("/root/testdata/sf0.01/orders.parquet")


def test_hll_distinct_within_5pct(orders):
    # rsd=0.01 (default rsd 0.05 measured 6.7% off on this table — too
    # loose for drift deltas)
    row = orders.agg(
        F.count_distinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", 0.01).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.03


def test_gk_quantiles_within_rank_error(orders):
    row = orders.agg(
        F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").alias("exact"),
        F.percentile_approx("o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                            F.lit(10000)).alias("approx"),
    ).collect()[0]
    lo, hi = min(row["exact"]), max(row["exact"])
    span = hi - lo
    for e, a in zip(row["exact"], row["approx"]):
        assert abs(a - e) < 0.05 * span  # well within GK accuracy at this n


def test_ann_bucketed_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = {}
    for r in cosine_topk_bruteforce(emb, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in cosine_topk_bucketed(emb, queries, k=5, bucket_dims=4, probe_flips=1).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    mean_recall = sum(recalls) / len(recalls)
    # 4 sign bits + 1-flip probing scans ~31% of the corpus per query;
    # on near-orthogonal vectors recall is limited — assert the measured
    # floor so regressions are caught, and document the trade-off.
    assert mean_recall >= 0.35, f"mean recall {mean_recall}"


def test_yaml_engine_end_to_end_on_real_testdata(spark, tmp_path):
    """YAML config → engine → report over the real parquet tables
    (pattern 2 of SURVEY §5, but through the full config surface)."""
    import textwrap

    from sparkcheck.io.config import load_ruleset_yaml
    from sparkcheck.run import ValidationEngine

    yml = tmp_path / "rules.yaml"
    yml.write_text(textwrap.dedent("""
        rule_sets:
          - name: docs_suite
            table: documents
            rules:
              - {name: nn_text, type: null_check, column: text}
              - {name: lang_enum, type: enum, column: lang,
                 values: [en, es, fr, de, zh]}
              - {name: nchars_range, type: range, column: n_chars, min: 0, max: 1000}
              - {name: pk_doc, type: unique, columns: [doc_id]}
              - {name: src_fk, type: referential_integrity,
                 child_table: documents, child_column: doc_id,
                 parent_table: documents, parent_column: doc_id}
    """))
    ruleset = load_ruleset_yaml(str(yml))["docs_suite"]
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    report = ValidationEngine(spark).run(ruleset, {"documents": docs})
    by_id = {o.rule_id: o for o in report.outcomes}
    assert report.passed
    assert by_id["nn_text"].violations == 0
    assert by_id["pk_doc"].violations == 0
    assert by_id["src_fk"].violations == 0
    assert by_id["nn_text"].total_rows == 500


def test_approx_host_stats_within_3pct(spark):
    """approx=True host_stats (HLL, no salting — sketches merge
    map-side) stays within ~3% of the exact salted counts on an 8M-row
    synthetic crawl with a Zipfian hot host."""
    from sparkcheck.webtext.hosts import host_stats

    n = 8_000_000
    # ~40% of urls behind host0 (the CDN case), the rest over 1000 hosts
    h = F.abs(F.xxhash64("id"))
    host_id = F.when(F.pmod(h, F.lit(10)) < 4, F.lit(0)).otherwise(
        F.pmod(h, F.lit(1000))
    )
    urls = spark.range(n).select(
        F.concat(
            F.lit("https://host"), host_id.cast("string"),
            F.lit(".example.com/p/"),
            # ~4 docs per url: distinct-url count differs from doc count
            F.floor(F.col("id") / 4).cast("string"),
        ).alias("url")
    )
    exact = {r["host"]: r for r in host_stats(urls, k=10, salted=True).collect()}
    approx = {r["host"]: r for r in
              host_stats(urls, k=10, approx=True, rsd=0.01).collect()}
    assert set(approx) == set(exact)  # same top-k hosts
    for host, e in exact.items():
        a = approx[host]
        assert a["n_docs"] == e["n_docs"]  # doc counts stay exact
        assert abs(a["n_urls"] - e["n_urls"]) / e["n_urls"] < 0.03


def test_approx_distinct_count_by_key(spark):
    from sparkcheck.integrity.uniqueness import distinct_count_by_key

    df = spark.range(500_000).select(
        F.pmod(F.col("id"), F.lit(7)).alias("k"),
        F.floor(F.col("id") / 3).alias("v"),
    )
    exact = {r["k"]: r["ndv"] for r in
             distinct_count_by_key(df, "k", "v", salted=True).collect()}
    approx = {r["k"]: r["ndv"] for r in
              distinct_count_by_key(df, "k", "v", approx=True).collect()}
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 0.03
