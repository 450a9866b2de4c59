"""Webtext generator: determinism, planted-violation counts, skew shape,
and the html→text byte-identity contract (FIXTURES.md §7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkcheck.compile import summary_df
from sparkcheck.drift import psi
from sparkcheck.integrity import duplicate_key_counts, uniqueness_summary
from sparkcheck.textextract import extract_text_py, extraction_mismatch_rows
from sparkcheck.webtext import PLANTED, webtext_table, webtext_rules

N = 5000
EXPECTED_PER_CLASS = N // 1000  # each planted class hits once per 1000 ids


def test_deterministic_across_partitionings(spark):
    a = webtext_table(spark, 1000, num_partitions=2)
    b = webtext_table(spark, 1000, num_partitions=7)
    ha = a.agg(F.md5(F.concat_ws("|", F.collect_list(F.md5(F.coalesce(F.col("url"), F.lit("-")))))))
    # order-insensitive content hash: xor-free — compare sorted collected urls
    ua = sorted(r["url"] or "" for r in a.select("url").collect())
    ub = sorted(r["url"] or "" for r in b.select("url").collect())
    assert ua == ub
    ta = sorted(r["text"] or "" for r in a.select("text").collect())
    tb = sorted(r["text"] or "" for r in b.select("text").collect())
    assert ta == tb


def test_planted_violation_counts(spark):
    df = webtext_table(spark, N).withColumn(
        "warc_ts_epoch", F.unix_timestamp("warc_ts")
    )
    s = {r["rule_id"]: r.asDict() for r in summary_df(df, webtext_rules()).collect()}
    assert s["url_not_null"]["violations"] == EXPECTED_PER_CLASS
    assert s["text_not_null"]["violations"] == EXPECTED_PER_CLASS
    assert s["lang_not_null"]["violations"] == EXPECTED_PER_CLASS
    assert s["lang_enum"]["violations"] == EXPECTED_PER_CLASS  # 'xx'; NULLs skipped
    assert s["url_scheme"]["violations"] == EXPECTED_PER_CLASS  # not-a-url-*
    assert s["warc_ts_window"]["violations"] == EXPECTED_PER_CLASS  # future ts


def test_planted_duplicates(spark):
    df = webtext_table(spark, N)
    s = uniqueness_summary(df, ["url"]).collect()[0]
    # each id%1000==7 row copies url(id−1) ⇒ 5 duplicated urls, excess 5
    assert s["duplicate_excess"] == EXPECTED_PER_CLASS
    dups = duplicate_key_counts(df, ["url"]).collect()
    assert len(dups) == EXPECTED_PER_CLASS
    assert all(r["dup_count"] == 2 for r in dups)


def test_host_skew_is_zipfian(spark):
    df = webtext_table(spark, N)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    top = (
        df.where(F.col("url").startswith("https://"))
        .groupBy(host.alias("host")).count()
        .orderBy(F.desc("count")).limit(1).collect()[0]
    )
    assert top["host"] == "bighost.com"
    assert top["count"] > 0.35 * N  # hot host ≈45%


def test_extraction_byte_identity(spark):
    df = webtext_table(spark, N)
    bad = extraction_mismatch_rows(df, key_cols=("doc_id",))
    rows = bad.collect()
    # Only truncated-html rows (id%1000==41) AND null-text rows where the
    # html embeds "" while text IS NULL mismatch.
    ids = sorted(r["doc_id"] for r in rows)
    expected = sorted(
        [i for i in range(N) if i % 1000 == PLANTED["bad_html"]]
        + [i for i in range(N) if i % 1000 == PLANTED["null_text"]]
    )
    assert ids == expected


def test_extractor_pure_function_golden():
    html = "<html><head><title>T</title></head><body><p>hello   world</p></body></html>".encode()
    assert extract_text_py(html) == "hello world"
    assert extract_text_py(None) is None
    # truncated html (no closed head/body): best-effort tag strip keeps
    # the title text — deterministic, and always an extraction mismatch
    assert extract_text_py(b"<html><head><title>Page 1</title>") == "Page 1"
    # no body tags at all
    assert extract_text_py(b"plain <b>bold</b> text") == "plain bold text"


def test_drifted_slice_has_psi_signal(spark):
    df = webtext_table(spark, N).withColumn("n_chars", F.length("text"))
    # id%10==9 rows have +60 words ⇒ shifted n_chars distribution
    p = psi(
        df.where(F.col("n_chars").isNotNull()),
        "n_chars",
        (F.col("doc_id") % 10 == 9).cast("int"),
        bins=20, lo=0.0, hi=800.0,
    )
    assert p > 0.25


def test_vectorized_udf_matches_pure_function(spark):
    """The batched .str path must be byte-identical to extract_text_py
    on every shape: well-formed, truncated, no-body, unicode, None."""
    from pyspark.sql import functions as F
    from sparkcheck.textextract.extract import extract_text_py, extract_text_udf

    cases = [
        b"<html><head><title>T</title></head><body><p>hello  world</p></body></html>",
        b"<html><head><title>T</title></head><body><p>trunca",      # no </body>
        b"no tags at all",
        "<html><body>ümläut 中文</body></html>".encode(),
        b"<body a=1>x<div>y</div>z</body>",
        b"",
        None,
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, html binary")
    got = {r["i"]: r["t"] for r in
           df.select("i", extract_text_udf(F.col("html")).alias("t")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == extract_text_py(c), f"case {i} diverged"


def test_fused_suite_plan_prunes_heavy_columns(spark, tmp_path):
    """The fused rule pass must read ONLY rule columns from parquet —
    ReadSchema in the scan node excludes html (the heavy payload); and
    violation_rows' scan must also stay pruned. The 100 TB invariant:
    heavy bytes never leave the scan."""
    from sparkcheck.compile import fused_agg, violation_rows
    from sparkcheck.webtext.generate import webtext_rules, webtext_table

    path = str(tmp_path / "wt")
    webtext_table(spark, 2000, num_partitions=2).write.parquet(path)
    df = spark.read.parquet(path).withColumn(
        "warc_ts_epoch", F.unix_timestamp("warc_ts").cast("double"))
    rules = webtext_rules()

    def scan_schema(frame):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        import re
        m = re.search(r"ReadSchema: struct<([^>]*)", plan)
        assert m, plan
        return m.group(1)

    agg_schema = scan_schema(fused_agg(df, rules))
    assert "html" not in agg_schema, agg_schema
    assert "url" in agg_schema and "text" in agg_schema

    viol_schema = scan_schema(violation_rows(df, rules, key_cols=["url"]))
    assert "html" not in viol_schema, viol_schema


def test_host_stats_salted_matches_plain(spark):
    """Salted two-phase per-host distinct-url counts must equal the plain
    plan; host extraction handles ports, query strings, and missing
    schemes."""
    from sparkcheck.webtext import host_stats, url_host

    rows = (
        [(f"https://hot.example/p/{i}",) for i in range(50)]
        + [(f"https://hot.example/p/{i}",) for i in range(10)]   # dup urls
        + [(f"http://h{i}.example:8080/a?q={i}",) for i in range(5)]
        + [("not a url",), (None,)]
    )
    df = spark.createDataFrame(rows, ["url"])
    plain = {r["host"]: (r["n_docs"], r["n_urls"])
             for r in host_stats(df, salted=False, k=None).collect()}
    salted = {r["host"]: (r["n_docs"], r["n_urls"])
              for r in host_stats(df, salted=True, salt_buckets=8, k=None).collect()}
    assert plain == salted
    assert plain["hot.example"] == (60, 50)
    assert plain["h0.example:8080"] == (1, 1)
    assert "not a url" not in plain and "" not in plain


def test_canonicalize_url_golden(spark):
    """Hand-checked canonicalization cases (webtext/urls.py): case
    folding, default ports (scheme-matched only), tracking-param strip
    + sort, fragment strip, bare-path merge, www strip, near-miss
    params kept, unparseable input -> ''."""
    from pyspark.sql import functions as F

    from sparkcheck.webtext import canonicalize_url, url_dedup_stats

    cases = [
        ("HTTPS://WWW.Ex.COM:443/?utm_source=a&b=2&a=1#frag", "https://ex.com?a=1&b=2"),
        ("http://Ex.com:80/p/1", "http://ex.com/p/1"),
        ("http://ex.com:443/p", "http://ex.com:443/p"),   # 443 not http's default
        ("https://ex.com/path/?fbclid=xyz", "https://ex.com/path/"),  # inner slash kept
        ("https://ex.com/?referer=keep", "https://ex.com?referer=keep"),  # not 'ref'
        ("https://ex.com/?ref=drop&ref", "https://ex.com"),
        ("not a url", ""),
        ("https://ex.com/a?z=1&y=2&utm_campaign=c", "https://ex.com/a?y=2&z=1"),
        # a '?' inside the fragment is fragment content, NOT a query
        # (SPA routes) — review r4 finding
        ("https://app.com/#/route?x=1", "https://app.com"),
        ("https://app.com/p#frag?x=1&y=2", "https://app.com/p"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", canonicalize_url(F.col("url"), strip_www=True).alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)

    # dedup pre-flight: raw variants of one page merge to one canonical
    variants = spark.createDataFrame(
        [(1, "https://WWW.ex.com/p?utm_source=a"),
         (2, "https://ex.com/p"),
         (3, "https://ex.com:443/p#x"),
         (4, "https://other.com/q")], "doc_id long, url string")
    s = url_dedup_stats(variants).collect()[0]
    assert (s["total_urls"], s["distinct_raw"], s["distinct_canonical"],
            s["merged"]) == (4, 4, 2, 2)


def test_corpus_report_card(spark):
    """One-call corpus report: planted nulls/dups/PII/spam/Spanish show
    up in the right buckets; HTML renders the metric table + lang bars."""
    from sparkcheck.webtext import corpus_report, render_corpus_html

    good = "the cat and the dog walk over to the house of a friend today"
    rows = [
        (0, good),
        (1, good),                                    # exact dup of 0
        (2, "el perro de la casa que ladra mucho y duerme poco cada noche"),
        (3, "buy now buy now buy now buy now buy now buy now"),   # spam
        (4, "contact me at a@b.com for the offer please and thanks a lot"),
        (5, None),                                    # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = corpus_report(df)
    assert rep["docs"] == 6 and rep["null_text"] == 1
    assert rep["duplication"]["exact_dup_docs"] == 1
    assert rep["duplication"]["exact_dup_rate"] == 0.2  # 1 of 5 non-null
    assert rep["pii"]["total_hits"] == 1 and 0 < rep["pii"]["any_pii_rate"] <= 0.2
    assert rep["repetition"]["repetitive_rate"] >= 0.2  # the spam doc flags
    assert rep["langs"].get("en", 0) >= 3 and rep["langs"].get("es", 0) >= 1
    assert rep["tokens"]["total"] > 0 and 0 < rep["quality"]["mean_quality"] <= 1

    import json
    json.dumps(rep)  # JSON-serializable contract

    doc = render_corpus_html(rep)
    assert "exact duplicate docs" in doc and "Language mix" in doc
    assert 'class="kbar"' in doc  # lang bars rendered

    # persisted-base path returns identical numbers
    from pyspark import StorageLevel
    rep2 = corpus_report(df, storage_level=StorageLevel.MEMORY_AND_DISK)
    assert rep2 == rep
    spark.catalog.clearCache()


def test_corpus_report_empty_table(spark):
    """Review fix: an empty corpus returns a zeroed report, not a
    TypeError from NULL sums."""
    from sparkcheck.webtext import corpus_report

    empty = spark.createDataFrame([], "doc_id long, text string")
    rep = corpus_report(empty)
    assert rep["docs"] == 0 and rep["null_text"] == 0
    assert rep["tokens"]["total"] == 0
    assert rep["duplication"] == {"exact_dup_docs": 0, "exact_dup_rate": 0.0}
    assert rep["langs"] == {}


def test_canonicalize_url_idempotent(spark):
    """Property: canonicalization is idempotent — canon(canon(u)) ==
    canon(u) for every structural variant (a non-idempotent normalizer
    produces unstable dedup keys across pipeline stages)."""
    from pyspark.sql import functions as F

    from sparkcheck.webtext import canonicalize_url

    variants = [
        "HTTPS://WWW.Ex.COM:443/a/b?utm_source=x&z=1&a=2#f",
        "http://ex.com:80/",
        "https://app.com/#/route?x=1",
        "ftp://Host.Example/Path",
        "https://ex.com/p?b=2&a=1&a=1",   # duplicate param survives sorted
        "not a url",
        "",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(variants)],
                               "i long, url string")
    once = canonicalize_url(F.col("url"), strip_www=True)
    rows = df.select(
        "i", once.alias("c1"),
    ).select("i", "c1", canonicalize_url(F.col("c1"), strip_www=True).alias("c2")) \
     .collect()
    for r in rows:
        assert r["c2"] == r["c1"], (variants[r["i"]], r["c1"], r["c2"])


def test_host_reputation_verdicts_and_filter(spark):
    """Host-level curation: per-host (n_docs, avg_quality, keep)
    verdicts, then the broadcast anti-join filter drops exactly the
    bad hosts' docs while unjudged hosts pass."""
    from sparkcheck.webtext import filter_by_host_reputation, host_reputation

    rows = [
        # good.example: 3 docs, avg quality 0.8
        ("https://good.example/a", 0.9), ("https://good.example/b", 0.8),
        ("https://good.example/c", 0.7),
        # spam.example: 3 docs, avg 0.1 -> dropped on quality
        ("https://spam.example/x", 0.1), ("https://spam.example/y", 0.1),
        ("https://spam.example/z", 0.1),
        # thin.example: 1 doc, high quality but below min_docs -> not kept
        ("https://thin.example/only", 0.95),
        # malformed url: host '' group is PRESENT (not silently passed)
        ("not a url", 0.5), ("not a url either", 0.5),
        # NULL url excluded entirely; NULL quality counts a doc only
        (None, 0.9), ("https://good.example/d", None),
    ]
    df = spark.createDataFrame(rows, "url string, quality double")
    rep = host_reputation(
        df, quality_col="quality", min_docs=2, min_avg_quality=0.5
    )
    got = {r["host"]: r for r in rep.collect()}
    assert set(got) == {"good.example", "spam.example", "thin.example", ""}
    g = got["good.example"]
    assert g["n_docs"] == 4 and abs(g["avg_quality"] - 0.8) < 1e-9 and g["keep"]
    assert not got["spam.example"]["keep"]
    assert not got["thin.example"]["keep"]  # min_docs gate
    assert got[""]["n_docs"] == 2 and got[""]["keep"]  # judged like any host

    kept = filter_by_host_reputation(df, rep)
    urls = sorted(r["url"] for r in kept.collect() if r["url"] is not None)
    # spam (quality) and thin (min_docs) dropped; good + malformed kept;
    # NULL url has no host row in the drop list -> passes the anti-join
    assert urls == sorted([
        "https://good.example/a", "https://good.example/b",
        "https://good.example/c", "https://good.example/d",
        "not a url", "not a url either",
    ])

    # a host absent from the verdict table passes (drop-list semantics)
    stranger = spark.createDataFrame(
        [("https://new.example/p", 0.0)], "url string, quality double")
    assert filter_by_host_reputation(stranger, rep).count() == 1

    # scale shape: the corpus side never shuffles — broadcast anti-join
    plan = filter_by_host_reputation(df, rep)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_corpus_report_with_reference_lm(spark):
    """Passing a trained LM adds the perplexity family: in-domain docs
    score lower than an out-of-domain one, and the HTML renders it."""
    from sparkcheck.textstats.lm import train_ngram_counts
    from sparkcheck.webtext import corpus_report, render_corpus_html

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog slept") for i in range(4)],
        "doc_id long, text string",
    )
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog slept on the mat"),
        (2, "zzz qqq xxx www yyy vvv"),  # out-of-domain
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lm = train_ngram_counts(ref, n=3)
    rep = corpus_report(df, reference_lm=lm)
    assert set(rep["perplexity"]) == {"mean", "p50", "p90"}
    assert rep["perplexity"]["p90"] > rep["perplexity"]["p50"] > 0
    import json
    json.dumps(rep)
    doc = render_corpus_html(rep)
    assert "LM perplexity" in doc
    # without the LM the family is absent (shape unchanged for old callers)
    assert "perplexity" not in corpus_report(df)
