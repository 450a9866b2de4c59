"""Golden tests for the dedup family: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine — planted duplicates at known
positions ⇒ exact expected pair sets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcheck.dedup import (
    drop_exact_duplicates,
    embedding_near_duplicates,
    exact_duplicate_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    simhash,
    simhash_near_duplicates,
)


@pytest.fixture(scope="module")
def docs(spark):
    near = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),     # exact dup of 0
        (2, near),
        (3, near.replace("lazy", "sleepy")),                       # near dup of 2
        (4, "completely unrelated text about spark shuffles and joins"),
        (5, None),                                                 # null exempt
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicate_groups(docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert (g["n_copies"], g["first_id"], g["last_id"]) == (2, 0, 1)


def test_drop_exact_duplicates(docs):
    kept = sorted(r["doc_id"] for r in drop_exact_duplicates(docs).collect())
    assert kept == [0, 2, 3, 4, 5]  # keeps min id 0, drops 1; null-text 5 exempt


def test_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             jaccard_pairs(docs, k=3, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (2, 3) in pairs and 0.3 <= pairs[(2, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_signature_shape_and_determinism(docs):
    sigs = minhash_signatures(docs, num_hashes=8)
    assert [c for c in sigs.columns if c.startswith("mh_")] == [f"mh_{i}" for i in range(8)]
    a = {r["id"]: tuple(r[f"mh_{i}"] for i in range(8)) for r in sigs.collect()}
    b = {r["id"]: tuple(r[f"mh_{i}"] for i in range(8)) for r in sigs.collect()}
    assert a == b
    assert a[0] == a[1]  # identical docs → identical signatures


def test_minhash_lsh_pipeline(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             minhash_near_duplicates(docs, num_hashes=8, rows_per_band=2,
                                     threshold=0.3).collect()}
    assert (0, 1) in pairs  # identical docs always share every band
    for (a, b) in pairs:
        assert (a, b) != (0, 4) and (a, b) != (2, 4)


def test_lsh_max_bucket_drops_hot_buckets(spark):
    same = [(i, "x y z w v u t s") for i in range(10)]
    df = spark.createDataFrame(same, ["doc_id", "text"])
    sigs = minhash_signatures(df, num_hashes=4)
    all_pairs = lsh_candidate_pairs(sigs, num_hashes=4, rows_per_band=2).count()
    capped = lsh_candidate_pairs(sigs, num_hashes=4, rows_per_band=2, max_bucket=5).count()
    assert all_pairs == 45 and capped == 0


def test_simhash_near_duplicates_banded_matches_exact(docs):
    exact = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_duplicates(docs, bits=16, max_hamming=3, banded=False).collect()}
    band = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            simhash_near_duplicates(docs, bits=16, max_hamming=3, banded=True).collect()}
    assert band == exact  # pigeonhole banding loses nothing
    assert exact[(0, 1)] == 0


def test_simhash_bits_are_binary(docs):
    rows = simhash(docs, bits=8).collect()
    for r in rows:
        for i in range(8):
            assert r[f"bit_{i}"] in (0, 1)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_near_duplicates_exact(vecs):
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in
             embedding_near_duplicates(vecs, threshold=0.95).collect()}
    assert list(pairs) == [(0, 1)]
    assert pairs[(0, 1)] > 0.99


def test_embedding_near_duplicates_banded_finds_near_dup(vecs):
    """Banded random-hyperplane LSH recovers the planted near-dup pair:
    at cosine ≈ 0.9992 nearly every hyperplane sign agrees, so the pair
    shares a band with overwhelming (and, given fixed seed,
    deterministic) probability."""
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_duplicates(vecs, threshold=0.95, bucketed=True,
                                       dim=4, bands=8, bits=4).collect()}
    assert pairs == {(0, 1)}


def test_embedding_banded_matches_exact_on_candidates(spark):
    """Banded-path cosines must equal the exact path's values on every
    pair the LSH surfaces (the prefilter may drop pairs, never alter
    values)."""
    import math

    rows = []
    for i in range(30):
        base = [math.cos(i * 0.11), math.sin(i * 0.11), 0.3, -0.2]
        rows.append((i, base))
        rows.append((100 + i, [x + 0.001 * ((i % 3) - 1) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {(r["id_a"], r["id_b"]): r["cosine"] for r in
             embedding_near_duplicates(df, threshold=0.9).collect()}
    banded = {(r["id_a"], r["id_b"]): r["cosine"] for r in
              embedding_near_duplicates(df, threshold=0.9, bucketed=True,
                                        dim=4, bands=4, bits=8).collect()}
    assert banded, "LSH should surface at least the planted near-dups"
    for pair, cos in banded.items():
        assert exact[pair] == cos


def test_embedding_hot_bucket_cap_bounds_candidates(spark):
    """Skewed-sign corpus (every vector in the same orthant — the shape
    that made the old fixed sign-bucket quadratic): with max_bucket the
    candidate count is bounded by bands * cap² / 2 instead of n²/2."""
    from sparkcheck.dedup.embedding import embedding_candidate_pairs

    n = 200
    rows = [(i, [1.0 + (i % 7) * 0.01, 2.0 + (i % 5) * 0.01,
                 3.0, 4.0]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = embedding_candidate_pairs(
        df, dim=4, bands=4, bits=4, max_bucket=10
    ).count()
    uncapped = embedding_candidate_pairs(
        df, dim=4, bands=4, bits=4, max_bucket=None
    ).count()
    # identical-orthant vectors all land in the same bucket per band →
    # uncapped is ~n²/2; the cap drops those hot buckets entirely
    assert uncapped > n * (n - 1) / 4
    assert capped <= 4 * 10 * 9 / 2


def test_auto_lsh_params_math():
    """auto_lsh_params returns (bands, bits) whose theoretical recall at
    the threshold meets the target within the plane budget, and more
    selective geometries (more bits) for higher thresholds."""
    import math as m

    from sparkcheck.dedup import auto_lsh_params

    chosen = {}
    for t in (0.4, 0.8, 0.95):
        bands, bits = auto_lsh_params(t, target_recall=0.9)
        chosen[t] = (bands, bits)
        p_bit = 1 - m.acos(t) / m.pi
        recall = 1 - (1 - p_bit**bits) ** bands
        assert recall >= 0.9, (t, bands, bits, recall)
        assert bands * bits <= 256 and bands <= 64
    # higher threshold ⇒ the budget affords more bits per band
    assert chosen[0.95][1] > chosen[0.8][1] > chosen[0.4][1]
    with pytest.raises(ValueError):
        auto_lsh_params(0.8, target_recall=1.0)


@pytest.mark.parametrize("threshold", [0.4, 0.8, 0.95])
def test_auto_lsh_recall_on_planted_pairs(spark, threshold):
    """VERDICT r3 #6 done-criterion: with bands/bits=None the auto
    geometry recovers ≥90% of planted pairs at each threshold.
    Deterministic: fixed numpy seed + md5-derived hyperplanes."""
    import numpy as np

    from sparkcheck.dedup import embedding_near_duplicates

    rng = np.random.RandomState(42)
    dim, n_pairs = 16, 40
    c = min(threshold + 0.1, 0.99)  # plant safely above the threshold
    rows = []
    for i in range(n_pairs):
        v = rng.randn(dim)
        v /= np.linalg.norm(v)
        w = rng.randn(dim)
        w -= w.dot(v) * v
        w /= np.linalg.norm(w)
        u = c * v + np.sqrt(1 - c * c) * w
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in u]))
    for j in range(40):  # background noise vectors
        g = rng.randn(dim)
        rows.append((5000 + j, [float(x) for x in g / np.linalg.norm(g)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    found = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            df, threshold=threshold, bucketed=True, dim=dim,
            target_recall=0.9,  # bands/bits auto-derived
        ).collect()
    }
    planted = {(i, 1000 + i) for i in range(n_pairs)}
    recall = len(found & planted) / n_pairs
    assert recall >= 0.9, f"recall {recall} at threshold {threshold}"


def test_jaccard_for_pairs_matches_allpairs(docs):
    """Pair-restricted verify must equal the all-pairs result restricted
    to the same pairs (the scale fix must not change values)."""
    from sparkcheck.dedup import jaccard_for_pairs

    spark = docs.sparkSession
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(docs, threshold=0.0).collect()}
    assert full, "fixture should produce at least one pair"
    pairs = spark.createDataFrame(sorted(full), ["id_a", "id_b"])
    restricted = {(r["id_a"], r["id_b"]): r["jaccard"]
                  for r in jaccard_for_pairs(docs, pairs, threshold=0.0).collect()}
    assert restricted == full
    # and a proper subset of pairs returns exactly that subset
    some = sorted(full)[:2]
    sub = spark.createDataFrame(some, ["id_a", "id_b"])
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_for_pairs(docs, sub, threshold=0.0).collect()}
    assert got == {p: full[p] for p in some}


def test_jaccard_for_pairs_zero_intersection_dropped(spark):
    df = spark.createDataFrame(
        [(0, "aa bb cc dd"), (1, "ee ff gg hh")], ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    from sparkcheck.dedup import jaccard_for_pairs
    assert jaccard_for_pairs(df, pairs, threshold=0.0).count() == 0


def test_keep_best_per_group(spark):
    from sparkcheck.dedup import drop_duplicates_keep_best, keep_best_per_group

    rows = [
        (1, "g1", 10), (2, "g1", 30), (3, "g1", 30),   # tie on 30 -> min id 2
        (4, "g2", 5),                                   # singleton
        (5, "g3", 7), (6, "g3", 2),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "q"])
    got = {r["group_key"]: (r["kept_id"], r["best_quality"], r["group_size"])
           for r in keep_best_per_group(df, "grp", "q").collect()}
    assert got == {"g1": (2, 30, 3), "g2": (4, 5, 1), "g3": (5, 7, 2)}
    kept = {r["doc_id"] for r in
            drop_duplicates_keep_best(df, "grp", "q").collect()}
    assert kept == {2, 4, 5}


def test_jaccard_for_pairs_duplicate_pair_rows_safe(docs):
    """Duplicated candidate-pair rows must not inflate jaccard."""
    from sparkcheck.dedup import jaccard_for_pairs

    spark = docs.sparkSession
    pairs_once = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    pairs_dup = spark.createDataFrame([(0, 1), (0, 1)], ["id_a", "id_b"])
    j1 = jaccard_for_pairs(docs, pairs_once, threshold=0.0).collect()
    j2 = jaccard_for_pairs(docs, pairs_dup, threshold=0.0).collect()
    assert [tuple(r) for r in j1] == [tuple(r) for r in j2]
    assert j1[0]["jaccard"] == 1.0  # docs 0 and 1 are exact dups


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over near-dup pairs)

def test_connected_components_golden(spark):
    """Hand-checked components: chain 1-2-3, pair 10-11, isolated pairs
    never merge across components; labels are the component minimum."""
    from sparkcheck.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    cc = {r["id"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                  20: 20, 21: 20, 22: 20, 23: 20}


def test_duplicate_clusters_summary(spark):
    from sparkcheck.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (7, 8)], "id_a long, id_b long"
    )
    rows = {r["cluster"]: r for r in duplicate_clusters(pairs).collect()}
    assert rows[1]["size"] == 3 and rows[1]["member_ids"] == [1, 2, 3]
    assert rows[7]["size"] == 2 and rows[7]["member_ids"] == [7, 8]


def test_connected_components_long_chain_converges(spark):
    """A 30-vertex chain — pointer jumping must converge in O(log d)
    rounds (≤7 for diameter 29), labelling everything with the min."""
    from pyspark.sql import functions as F
    from sparkcheck.dedup import connected_components

    chain = spark.range(29).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    rounds: list[int] = []
    cc = connected_components(chain, max_iter=40, _rounds_out=rounds).collect()
    assert all(r["cluster"] == 0 for r in cc) and len(cc) == 30
    assert rounds[0] <= 7


def test_connected_components_1000_chain_log_rounds(spark):
    """Verdict r3 #2 done-criterion: a 1,000-node chain (worst-case
    diameter for near-dup template chains) converges in ≤12 rounds —
    O(log d) via pointer jumping, not O(d) propagation with a
    RuntimeError cliff at 20."""
    from pyspark.sql import functions as F
    from sparkcheck.dedup import connected_components

    chain = spark.range(999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    rounds: list[int] = []
    cc = connected_components(chain, max_iter=20, _rounds_out=rounds)
    agg = cc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("cluster") == 0).cast("long")).alias("n_min"),
    ).collect()[0]
    assert (agg["n"], agg["n_min"]) == (1000, 1000)
    assert rounds[0] <= 12, f"took {rounds[0]} rounds"


def test_connected_components_partial_labels_when_not_strict(spark):
    """strict=False degrades gracefully: partial (finer) labels + a
    RuntimeWarning instead of a crashed job after max_iter rounds."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from sparkcheck.dedup import connected_components

    chain = spark.range(29).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    with _pytest.warns(RuntimeWarning, match="max_iter"):
        cc = connected_components(chain, max_iter=1, strict=False).collect()
    # every vertex still labelled, labels are reachable ids (≤ own id)
    assert len(cc) == 30 and all(r["cluster"] <= r["id"] for r in cc)
    with _pytest.raises(RuntimeError):
        connected_components(chain, max_iter=1, strict=True).collect()


def test_dedup_corpus_end_to_end(spark):
    """Full pipeline: exact dups collapse, a 3-doc near-dup cluster
    keeps its highest-quality member, unique docs pass untouched."""
    from pyspark.sql import functions as F
    from sparkcheck.dedup import dedup_corpus

    # 20 shared words + 1 differing → jaccard 0.9; the 4-band/2-row
    # curve recalls s=0.9 with P≈0.999 under ANY uniform hash family
    # (at the old 10-word base s was 0.8 → 1.7% per-pair miss, and the
    # xxhash64 draw happened to miss one pair — a recall lottery, not a
    # correctness property, so the fixture shouldn't sit on it)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = [
        (1, base + " one", 0.5),
        (2, base + " two", 0.9),        # near-dups of each other
        (3, base + " three", 0.7),
        (4, base + " one", 0.1),        # EXACT duplicate of doc 1's text
        (5, "completely different words with no overlap at all here", 0.2),
        (6, None, 0.3),                 # NULL text: exempt, passes through
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, quality double")
    out = dedup_corpus(df, quality_col="quality", threshold=0.5,
                       num_hashes=8, rows_per_band=2)
    kept = sorted(r["doc_id"] for r in out.collect())
    # 4 dropped as exact dup of 1; {1,2,3} cluster -> keep 2 (quality .9)
    assert kept == [2, 5, 6]
    # without a quality column: minimum id survives the cluster
    out2 = dedup_corpus(df, threshold=0.5, num_hashes=8, rows_per_band=2)
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 5, 6]


def test_dedup_corpus_checkpoint_resume(spark, tmp_path, monkeypatch):
    """VERDICT r3 #7 done-criterion: a run killed after the pairs stage
    resumes WITHOUT recomputing it. Stage outputs persist under
    (input_fingerprint, params); the resumed run must not build MinHash
    signatures again (counter), not even when the `bands` stage is
    absent (the layout written before bands became a stage), and must
    launch far fewer Spark jobs than the cold run (statusTracker)."""
    import pytest as _pytest

    import sparkcheck.dedup.pipeline as pl
    from sparkcheck.dedup import dedup_corpus

    # 20-word base → pairwise jaccard 0.9, recalled under any uniform
    # hash family (see test_dedup_corpus_end_to_end's fixture note)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = [
        (1, base + " one", 0.5), (2, base + " two", 0.9),
        (3, base + " three", 0.7), (4, base + " one", 0.1),
        (5, "completely different words with no overlap at all here", 0.2),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, quality double")
    ckpt = str(tmp_path / "dedup_ckpt")
    kw = dict(quality_col="quality", threshold=0.5, num_hashes=8,
              rows_per_band=2, checkpoint_dir=ckpt, input_fingerprint="snap-1")

    # fingerprint is mandatory with checkpoint_dir
    with _pytest.raises(ValueError, match="input_fingerprint"):
        dedup_corpus(df, quality_col="quality", checkpoint_dir=ckpt)

    calls = {"minhash": 0}
    real_mh = pl.minhash_signatures

    def counting_mh(*a, **k):
        calls["minhash"] += 1
        return real_mh(*a, **k)

    monkeypatch.setattr(pl, "minhash_signatures", counting_mh)

    # cold run killed right after the pairs stage persists
    def boom(*a, **k):
        raise RuntimeError("killed after pairs stage")

    monkeypatch.setattr(pl, "connected_components", boom)
    with _pytest.raises(RuntimeError, match="killed"):
        dedup_corpus(df, **kw)
    assert calls["minhash"] == 1
    import os
    import shutil

    key_dir = os.path.join(ckpt, os.listdir(ckpt)[0])
    assert os.path.exists(os.path.join(key_dir, "bands", "_SUCCESS"))
    assert os.path.exists(os.path.join(key_dir, "pairs", "_SUCCESS"))
    assert not os.path.exists(os.path.join(key_dir, "clusters", "_SUCCESS"))
    # a checkpoint dir without the bands stage must still resume from
    # pairs: bands is only built when a stage that needs it is missing
    shutil.rmtree(os.path.join(key_dir, "bands"))

    # resume: clusters stage runs, exact_ids + pairs are read back
    from sparkcheck.dedup.clusters import connected_components as real_cc

    monkeypatch.setattr(pl, "connected_components", real_cc)
    sc = spark.sparkContext
    sc.setJobGroup("dedup-resume-1", "resume after pairs")
    kept = sorted(r["doc_id"] for r in dedup_corpus(df, **kw).collect())
    resume1_jobs = len(sc.statusTracker().getJobIdsForGroup("dedup-resume-1"))
    sc.setJobGroup("", "")
    assert kept == [2, 5]
    assert calls["minhash"] == 1, "signatures recomputed on resume"
    assert not os.path.exists(os.path.join(key_dir, "bands"))

    # fully-checkpointed re-run: every stage read back, jobs ≈ assembly only
    sc.setJobGroup("dedup-resume-2", "all stages cached")
    kept2 = sorted(r["doc_id"] for r in dedup_corpus(df, **kw).collect())
    resume2_jobs = len(sc.statusTracker().getJobIdsForGroup("dedup-resume-2"))
    sc.setJobGroup("", "")
    assert kept2 == [2, 5] and calls["minhash"] == 1
    # the connected-components iteration (localCheckpoint + change-count
    # per round) dominates resume1's job count; with it cached too the
    # job count must drop
    assert resume2_jobs < resume1_jobs

    # a NEW input snapshot invalidates the key: stages rebuild
    with _pytest.raises(Exception):
        # different fingerprint → fresh key dir → minhash must run again;
        # boom proves the builder chain is re-entered
        monkeypatch.setattr(pl, "minhash_signatures", boom)
        dedup_corpus(df, quality_col="quality", threshold=0.5, num_hashes=8,
                     rows_per_band=2, checkpoint_dir=ckpt,
                     input_fingerprint="snap-2")


def test_incremental_near_duplicates_probe(spark):
    """Incremental ingest: a new batch probes the corpus's persisted
    band index; cross-frame near-dups found, batch-internal and
    corpus-internal pairs NOT reported, id semi-restriction keeps
    untouched corpus docs out of the verify stage."""
    from sparkcheck.dedup import (
        band_assignments,
        incremental_near_duplicates,
        minhash_signatures,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(100, base + " corpus one"),
         (101, "totally unrelated corpus text with other words entirely"),
         (102, base + " corpus one")],       # corpus-internal dup of 100
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base + " corpus one"),          # dup of corpus 100/102
         (2, "fresh new content that matches nothing in the corpus"),
         (3, base + " corpus one")],         # dup of corpus AND of new 1
        "doc_id long, text string")

    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           incremental_near_duplicates(new, corpus, threshold=0.5,
                                       num_hashes=8, rows_per_band=2).collect()}
    assert set(got) == {(1, 100), (1, 102), (3, 100), (3, 102)}
    assert all(j == 1.0 for j in got.values())
    # pairs are (new, corpus) only: no (100,102) corpus pair, no (1,3)

    # pre-materialized band index path gives identical results
    bands = band_assignments(minhash_signatures(corpus, num_hashes=8),
                             num_hashes=8, rows_per_band=2)
    got2 = {(r["id_a"], r["id_b"]) for r in
            incremental_near_duplicates(new, corpus, corpus_bands=bands,
                                        threshold=0.5, num_hashes=8,
                                        rows_per_band=2).collect()}
    assert got2 == set(got)

    # hot-bucket cap drops boilerplate corpus buckets entirely
    capped = incremental_near_duplicates(new, corpus, threshold=0.5,
                                         num_hashes=8, rows_per_band=2,
                                         max_bucket=1).count()
    assert capped == 0  # the shared-text bucket has 2 corpus members > 1


def test_incremental_cap_counts_both_sides(spark):
    """Review fix: the hot-bucket cap counts COMBINED corpus+batch
    membership — a boilerplate-heavy batch alone must trip it, even
    when the corpus side of the bucket is cold."""
    from sparkcheck.dedup import incremental_near_duplicates

    boiler = "x y z w v u t s r q"
    corpus = spark.createDataFrame([(100, boiler)], "doc_id long, text string")
    new = spark.createDataFrame([(i, boiler) for i in range(8)],
                                "doc_id long, text string")
    # corpus bucket membership is 1 (under any corpus-only cap of 5);
    # combined membership is 9 > 5 -> the bucket must be dropped
    capped = incremental_near_duplicates(new, corpus, threshold=0.5,
                                         num_hashes=8, rows_per_band=2,
                                         max_bucket=5).count()
    assert capped == 0
    uncapped = incremental_near_duplicates(new, corpus, threshold=0.5,
                                           num_hashes=8, rows_per_band=2,
                                           max_bucket=None).count()
    assert uncapped == 8  # every batch doc pairs with the corpus doc


def test_band_index_bucketed_probe_no_index_exchange(spark, tmp_path):
    """write_band_index persists the LSH index bucketed on band_key:
    a probe join re-shuffles ONLY the new batch — the index side scans
    its co-located buckets with no Exchange (the 100 TB shape: batch
    cost per probe, corpus cost once)."""
    from pyspark.sql import functions as F

    from sparkcheck.dedup import (
        band_assignments,
        minhash_signatures,
        write_band_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta doc {i}") for i in range(50)],
        "doc_id long, text string")
    bands = band_assignments(minhash_signatures(corpus, num_hashes=8),
                             num_hashes=8, rows_per_band=2)
    write_band_index(bands, "band_index_test", num_buckets=4)
    try:
        idx = spark.table("band_index_test")
        new = spark.createDataFrame(
            [(1000, "alpha beta gamma delta epsilon zeta eta doc 7")],
            "doc_id long, text string")
        nb = band_assignments(minhash_signatures(new, num_hashes=8),
                              num_hashes=8, rows_per_band=2)
        probe = nb.alias("n").join(idx.alias("c"), on=["band_idx", "band_key"]) \
            .select(F.col("n.id").alias("id_a"), F.col("c.id").alias("id_b")).distinct()
        assert probe.count() >= 1  # the near-identical doc matches
        # force SMJ (a tiny index would broadcast, hiding the property
        # under test) and assert: bucketed index scan, NO Exchange on
        # the index side, exactly one band-key Exchange (the batch)
        import re
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = probe._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Bucketed: true" in plan, plan
        assert len(re.findall(r"Exchange hashpartitioning\(band", plan)) == 1, plan
        scan_pos = plan.find("FileScan parquet")
        assert "Exchange" not in plan[scan_pos - 400:scan_pos], plan
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_test")
        spark.sql("DROP TABLE IF EXISTS band_index_test_counts")


def test_dedup_corpus_url_first_stage(spark, tmp_path):
    """url_col= enables the standard crawl recipe: canonical-URL dedup
    (stage 0) before content dedup — tracking-param/www/fragment
    variants of one page collapse to the min id even when their TEXT
    differs; NULL urls exempt; the stage participates in checkpointing."""
    from sparkcheck.dedup import dedup_corpus

    rows = [
        (1, "https://WWW.ex.com/p?utm_source=a", "version one of the page text here today"),
        (2, "https://ex.com/p", "version two of the page text here today"),  # same canon URL
        (3, "https://ex.com/q", "completely different second page content words"),
        (4, None, "doc with no url at all passes through fine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    kept = sorted(r["doc_id"] for r in
                  dedup_corpus(df, url_col="url", threshold=0.9,
                               num_hashes=8, rows_per_band=2).collect())
    assert kept == [1, 3, 4]  # 2 dropped as canonical-URL dup of 1
    # without the url stage, both text versions survive (texts differ)
    kept2 = sorted(r["doc_id"] for r in
                   dedup_corpus(df, threshold=0.9,
                                num_hashes=8, rows_per_band=2).collect())
    assert kept2 == [1, 2, 3, 4]

    # checkpointed: url_ids stage persists and the key includes url_col
    import os
    ck = str(tmp_path / "ck")
    out = sorted(r["doc_id"] for r in
                 dedup_corpus(df, url_col="url", threshold=0.9,
                              num_hashes=8, rows_per_band=2,
                              checkpoint_dir=ck,
                              input_fingerprint="s1").collect())
    assert out == [1, 3, 4]
    key_dir = os.path.join(ck, os.listdir(ck)[0])
    assert os.path.exists(os.path.join(key_dir, "url_ids", "_SUCCESS"))


@pytest.mark.parametrize("checkpointed", [False, True], ids=["memory", "parquet"])
@pytest.mark.parametrize("with_index", [False, True], ids=["no_index", "index"])
def test_dedup_corpus_materializers_agree(spark, tmp_path, monkeypatch,
                                         checkpointed, with_index):
    """In-memory (localCheckpoint) and checkpointed (parquet) stages run
    one graph: with url_col set, every materializer x band-index
    combination keeps the same survivors, and a written band index holds
    exactly the surviving docs' band rows. The frame handed to
    write_band_index reads the materialized bands stage: no shingle or
    band explode (Generate) is left under it to recompute."""
    import sparkcheck.dedup.pipeline as pl
    from sparkcheck.dedup import band_assignments, dedup_corpus

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, "https://ex.com/a", base + " one"),
        (2, "https://WWW.ex.com/a?utm_source=x", "other text on a re-crawl"),
        (3, "https://ex.com/b", base + " two"),     # near dup of 1
        (4, None, base + " one"),                  # exact dup of 1
        (5, "https://ex.com/c", "completely different words with no overlap"),
        (6, "https://ex.com/d", base + " three"),  # near dup of 1 and 3
        (7, "https://ex.com/e", "yet another unrelated document body here"),
        (8, "relative/path", "an unparseable url is exempt from url dedup"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    table = f"agree_idx_{int(checkpointed)}"
    kw = dict(url_col="url", threshold=0.5, num_hashes=8, rows_per_band=2)
    if checkpointed:
        kw.update(checkpoint_dir=str(tmp_path / "ck"), input_fingerprint="s1")
    if with_index:
        kw.update(band_index_table=table, band_index_buckets=4)

    handed = []
    real_write = pl.write_band_index

    def recording_write(bands, *a, **k):
        handed.append(bands._jdf.queryExecution().executedPlan().toString())
        return real_write(bands, *a, **k)

    monkeypatch.setattr(pl, "write_band_index", recording_write)
    try:
        kept = sorted(r["doc_id"] for r in dedup_corpus(df, **kw).collect())
        assert kept == [1, 5, 7, 8]
        if not with_index:
            assert handed == []
            return
        assert len(handed) == 1 and "Generate" not in handed[0], handed
        cols = ["id", "band_idx", "band_key", "hash_fn", "num_hashes",
                "rows_per_band", "k"]
        got = sorted(map(tuple, spark.table(table).select(*cols).collect()))
        survivors = df.where(F.col("doc_id").isin(kept))
        want_bands = (
            band_assignments(
                minhash_signatures(survivors, "text", "doc_id", 3, 8, "xxhash64"),
                8, 2,
            )
            .withColumn("hash_fn", F.lit("xxhash64"))
            .withColumn("num_hashes", F.lit(8))
            .withColumn("rows_per_band", F.lit(2))
            .withColumn("k", F.lit(3))
        )
        want = sorted(map(tuple, want_bands.select(*cols).collect()))
        assert got == want and len(got) == 4 * len(kept)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_counts")


def test_dedup_corpus_leaves_band_index_for_incremental(spark, tmp_path):
    """The incremental-ingest steady state: a dedup_corpus run with
    band_index_table= persists the surviving docs' LSH band index as a
    bucketed catalog table; the next day's batch probes it by NAME via
    incremental_near_duplicates(corpus_bands=<table>) with zero Exchange
    on the index side, and matches a from-scratch recompute against the
    surviving corpus."""
    import re

    from pyspark.sql import functions as F

    from sparkcheck.dedup import dedup_corpus, incremental_near_duplicates

    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
            for i in range(40)]
    rows += [(100 + i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
             for i in range(5)]  # exact dups of 0..4 — dropped pre-index
    df = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        corpus = dedup_corpus(
            df, threshold=0.9, num_hashes=8, rows_per_band=2,
            checkpoint_dir=str(tmp_path / "ck"), input_fingerprint="snap1",
            band_index_table="corpus_band_idx", band_index_buckets=4,
        )
        surviving = sorted(r["doc_id"] for r in corpus.collect())
        idx = spark.table("corpus_band_idx")
        # index covers exactly the surviving docs
        idx_ids = sorted(r["id"] for r in idx.select("id").distinct().collect())
        assert idx_ids == surviving and 100 not in set(idx_ids)

        new = spark.createDataFrame(
            [(1000, "alpha beta gamma delta epsilon zeta eta theta doc 7"),
             (1001, "totally unrelated words nothing shared here at all ok")],
            "doc_id long, text string")
        corpus_docs = df.join(corpus.select("doc_id"), "doc_id", "left_semi")
        # the index is SELF-DESCRIBING (constant hash_fn column): the
        # probe adopts dedup_corpus's xxhash64 family with pure
        # defaults, and an explicitly mismatched family raises instead
        # of silently matching nothing
        import pytest as _pytest
        with _pytest.raises(ValueError, match="hash_fn.*does not match"):
            incremental_near_duplicates(
                new, corpus_docs, corpus_bands="corpus_band_idx",
                threshold=0.5, num_hashes=8, rows_per_band=2, hash_fn="md5")
        # the metadata covers the FULL geometry, not just the family
        with _pytest.raises(ValueError, match="rows_per_band.*does not match"):
            incremental_near_duplicates(
                new, corpus_docs, corpus_bands="corpus_band_idx",
                threshold=0.5, rows_per_band=4)
        via_index = incremental_near_duplicates(
            new, corpus_docs, corpus_bands="corpus_band_idx",
            threshold=0.5, num_hashes=8, rows_per_band=2)
        from_scratch = incremental_near_duplicates(
            new, corpus_docs, threshold=0.5, num_hashes=8, rows_per_band=2,
            hash_fn="xxhash64")
        got = sorted(map(tuple, via_index.select("id_a", "id_b").collect()))
        want = sorted(map(tuple, from_scratch.select("id_a", "id_b").collect()))
        assert got == want and (1000, 7) in got

        # plan assertion: the probe join reads the bucketed index with
        # NO Exchange on the index side (force SMJ so a broadcast of the
        # tiny index doesn't hide the property)
        nb = incremental_near_duplicates(
            new, corpus_docs, corpus_bands="corpus_band_idx",
            threshold=0.5, num_hashes=8, rows_per_band=2, max_bucket=None)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = nb._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Bucketed: true" in plan, plan
        scan_pos = plan.find("FileScan parquet")
        assert scan_pos > 0 and "Exchange" not in plan[scan_pos - 400:scan_pos], plan
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_band_idx")
        spark.sql("DROP TABLE IF EXISTS corpus_band_idx_counts")


def test_dedup_corpus_unparseable_urls_exempt(spark):
    """URLs that don't canonicalize (no scheme:// prefix — relative and
    malformed URLs, common in real crawls) are exempt from the URL dedup
    stage like NULLs: canonicalize_url maps them all to '' and grouping
    on that shared key would silently collapse every such doc into one
    survivor (round-4 ADVICE high finding)."""
    from sparkcheck.dedup import dedup_corpus

    rows = [
        (1, "relative/path/only", "first unparseable url doc unique words alpha beta"),
        (2, "also not a url", "second unparseable url doc other words gamma delta"),
        (3, "/rooted/but/schemeless", "third unparseable doc different words epsilon zeta"),
        (4, "https://ex.com/a?utm_source=x", "a real page with plenty of words right here"),
        (5, "https://ex.com/a", "same real page changed words entirely new body text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    kept = sorted(r["doc_id"] for r in
                  dedup_corpus(df, url_col="url", threshold=0.9,
                               num_hashes=8, rows_per_band=2).collect())
    # all three unparseable-URL docs survive; 5 drops as canonical dup of 4
    assert kept == [1, 2, 3, 4]


def test_dedup_corpus_hash_families_agree(spark):
    """The pipeline's xxhash64 default and the oracle-parity md5 family
    must produce the SAME survivors on a corpus with clear near-dups:
    both are uniform hash families, the band geometry (hence the recall
    S-curve) is identical, and the final pairs are exact-Jaccard
    verified — hash choice is engine-internal."""
    from sparkcheck.dedup import dedup_corpus

    # per-doc DISJOINT vocabularies (cross-doc jaccard 0) so the only
    # near-dup structure is the planted one — a shared-template corpus
    # would sit near the threshold and cluster differently per hash draw
    def words(i):
        return " ".join(f"w{i}x{j}" for j in range(18))

    rows = [(i, words(i)) for i in range(30)]
    rows += [(100 + i, words(i) + " tail") for i in range(5)]  # near-dups of 0..4
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.5, num_hashes=8, rows_per_band=2)
    fast = sorted(r["doc_id"] for r in dedup_corpus(df, **kw).collect())
    slow = sorted(r["doc_id"] for r in dedup_corpus(df, hash_fn="md5", **kw).collect())
    assert fast == slow
    assert all(d < 100 for d in fast)  # every planted near-dup collapsed


def test_auto_lsh_params_property_sweep():
    """Property sweep: for every (threshold, target_recall) grid point
    the chosen geometry is feasible (budget respected) and its
    theoretical recall at the threshold meets the target."""
    import math as m

    from sparkcheck.dedup import auto_lsh_params

    for t in (0.1, 0.3, 0.5, 0.7, 0.9, 0.99):
        for r in (0.5, 0.8, 0.9, 0.95):
            bands, bits = auto_lsh_params(t, target_recall=r)
            assert bands >= 1 and bits >= 1
            assert bands <= 64 and bands * bits <= 256, (t, r, bands, bits)
            p_bit = 1 - m.acos(t) / m.pi
            recall = 1 - (1 - p_bit**bits) ** bands
            # the fallback (max_bands, 1) may undershoot only when even
            # 64 single-bit bands cannot reach the target
            if (bands, bits) != (64, 1):
                assert recall >= r, (t, r, bands, bits, recall)


def _words(i, n=20):
    # per-doc DISJOINT vocabulary: cross-doc jaccard is exactly 0, and
    # the planted near-dups (one appended token) sit at 18/19 ≈ 0.95 —
    # above the 0.9 fixture floor the LSH recall lottery demands
    return " ".join(f"t{i}w{j}" for j in range(n))


def test_counts_sidecar_makes_cap_batch_cost(spark):
    """write_band_index leaves a per-bucket counts sidecar; a probe
    with max_bucket SET against the named index (a) returns pairs
    identical to the DataFrame path's full combined count, and (b)
    plans NO Exchange above either bucketed scan — the corpus index is
    never re-aggregated, the round-5 O(corpus)-per-batch defect."""
    from pyspark.sql import functions as F

    from sparkcheck.dedup import (
        band_assignments,
        incremental_near_duplicates,
        minhash_signatures,
        write_band_index,
    )

    # 12-doc boilerplate cluster (hot bucket) + one cold doc
    corpus = spark.createDataFrame(
        [(i, _words(1)) for i in range(12)] + [(50, _words(2))],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000, _words(1)),                  # lands in the hot bucket
         (1001, _words(2) + " extra")],      # near-dup of cold doc 50
        "doc_id long, text string")
    bands = band_assignments(minhash_signatures(corpus, num_hashes=8),
                             num_hashes=8, rows_per_band=2)
    write_band_index(bands, "cap_idx_test", num_buckets=4)
    try:
        # sidecar exists, is bucketed, and its totals equal the index
        counts = spark.table("cap_idx_test_counts")
        idx_counts = {
            (r["band_idx"], r["band_key"]): r["n"]
            for r in spark.table("cap_idx_test")
            .groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        side_counts = {
            (r["band_idx"], r["band_key"]): r["n"] for r in counts.collect()
        }
        assert side_counts == idx_counts

        kw = dict(threshold=0.5, num_hashes=8, rows_per_band=2, max_bucket=10)
        via_table = incremental_near_duplicates(
            new, corpus, corpus_bands="cap_idx_test", **kw)
        via_frame = incremental_near_duplicates(
            new, corpus, corpus_bands=bands, **kw)
        got_t = sorted(map(tuple, via_table.select("id_a", "id_b").collect()))
        got_f = sorted(map(tuple, via_frame.select("id_a", "id_b").collect()))
        # hot bucket (12 corpus + 1 new > 10) dropped; cold pair survives
        assert got_t == got_f == [(1001, 50)]

        # plan: with max_bucket SET, every parquet scan (index AND
        # sidecar) is bucketed with no Exchange above it — the cap no
        # longer aggregates the corpus side at all. Pinned with
        # shuffle partitions ≠ bucket count (37 vs 4): the batch agg
        # must repartition to the SIDECAR's bucket count, else Spark
        # resolves the semi-join's partitioning mismatch by re-shuffling
        # the corpus side (the production setting — 2000 shuffle
        # partitions vs a fixed index bucket count — hits this always;
        # a matching-count test would pass by coincidence)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "37")
        try:
            plan = incremental_near_duplicates(
                new, corpus, corpus_bands="cap_idx_test", **kw
            )._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        scans = [m.start() for m in __import__("re").finditer("FileScan parquet", plan)]
        assert len(scans) >= 2, plan  # index + sidecar
        for pos in scans:
            assert "Exchange" not in plan[max(0, pos - 400):pos], plan[:pos][-400:]
        assert plan.count("Bucketed: true") >= 2, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS cap_idx_test")
        spark.sql("DROP TABLE IF EXISTS cap_idx_test_counts")


def test_metadata_less_band_frame_format_checks(spark):
    """ADVICE r5 fixes: (a) a metadata-less xxhash64 band frame probed
    under the md5 default raises instead of silently matching nothing;
    (b) a rows_per_band=1 frame (single-slot keys, no '|') is NOT
    falsely rejected as legacy; (c) a genuinely mismatched slot count
    still raises."""
    import pytest

    from sparkcheck.dedup import (
        band_assignments,
        incremental_near_duplicates,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(100, _words(1)), (101, _words(2))], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, _words(1) + " z")], "doc_id long, text string")

    xx_bands = band_assignments(
        minhash_signatures(corpus, num_hashes=8, hash_fn="xxhash64"),
        num_hashes=8, rows_per_band=2)
    with pytest.raises(ValueError, match="hash_fn='md5'"):
        incremental_near_duplicates(new, corpus, corpus_bands=xx_bands,
                                    threshold=0.5)
    got = incremental_near_duplicates(
        new, corpus, corpus_bands=xx_bands, threshold=0.5,
        hash_fn="xxhash64").select("id_a", "id_b").collect()
    assert sorted(map(tuple, got)) == [(1, 100)]

    md5_bands = band_assignments(
        minhash_signatures(corpus, num_hashes=8), num_hashes=8, rows_per_band=2)
    with pytest.raises(ValueError, match="hash_fn='xxhash64'"):
        incremental_near_duplicates(new, corpus, corpus_bands=md5_bands,
                                    threshold=0.5, hash_fn="xxhash64")

    # rows_per_band=1: single md5 slot per key, zero separators — valid
    one_row = band_assignments(
        minhash_signatures(corpus, num_hashes=4), num_hashes=4, rows_per_band=1)
    got1 = incremental_near_duplicates(
        new, corpus, corpus_bands=one_row, threshold=0.5,
        num_hashes=4, rows_per_band=1).select("id_a", "id_b").collect()
    assert sorted(map(tuple, got1)) == [(1, 100)]

    # slot-count mismatch (2-slot keys probed as rows_per_band=4) raises
    with pytest.raises(ValueError, match="slot"):
        incremental_near_duplicates(new, corpus, corpus_bands=md5_bands,
                                    threshold=0.5, num_hashes=8,
                                    rows_per_band=4)


def test_ingest_batch_sequential_equals_from_scratch(spark, tmp_path):
    """The steady-state loop end-to-end: dedup_corpus builds the index,
    two sequential ingest_batch calls probe + APPEND, and the evolving
    corpus equals a from-scratch dedup_corpus over the concatenation.
    Batch 2's near-dup of a batch-1 ACCEPT proves the append arc (the
    'day after' case the overwrite-only index silently broke)."""
    from pyspark.sql import functions as F

    from sparkcheck.dedup import dedup_corpus, ingest_batch

    df0 = spark.createDataFrame(
        [(i, _words(i)) for i in range(1, 7)], "doc_id long, text string")
    kw = dict(threshold=0.5, num_hashes=8, rows_per_band=2, max_bucket=None)
    try:
        corpus0 = dedup_corpus(df0, band_index_table="ingest_idx",
                               band_index_buckets=4, **kw)
        assert sorted(r["doc_id"] for r in corpus0.collect()) == [1, 2, 3, 4, 5, 6]

        batch1 = spark.createDataFrame(
            [(101, _words(1) + " zz"),    # near-dup of corpus 1 -> drop
             (102, _words(50)),           # fresh -> accept
             (103, _words(50)),           # exact dup of 102 -> drop
             (104, _words(51) + " aa"),   # batch-internal near-dup pair:
             (105, _words(51) + " bb")],  #   keep min id 104
            "doc_id long, text string")
        ikw = dict(threshold=0.5, max_bucket=None)
        acc1 = ingest_batch(batch1, df0, "ingest_idx", **ikw)
        assert sorted(r["doc_id"] for r in acc1.collect()) == [102, 104]

        corpus_docs1 = df0.unionByName(batch1.join(
            acc1.select("doc_id"), "doc_id", "left_semi"))
        batch2 = spark.createDataFrame(
            [(201, _words(50) + " qq"),   # near-dup of ACCEPTED 102 -> drop
             (202, _words(60)),           # fresh -> accept
             (203, _words(2) + " rr")],   # near-dup of corpus 2 -> drop
            "doc_id long, text string")
        acc2 = ingest_batch(batch2, corpus_docs1, "ingest_idx", **ikw)
        assert sorted(r["doc_id"] for r in acc2.collect()) == [202]

        # the evolving corpus equals one from-scratch run over everything
        concat = df0.unionByName(batch1).unionByName(batch2)
        scratch = sorted(r["doc_id"] for r in dedup_corpus(concat, **kw).collect())
        assert scratch == [1, 2, 3, 4, 5, 6, 102, 104, 202]

        # index covers exactly the final corpus; geometry preserved
        idx = spark.table("ingest_idx")
        idx_ids = sorted(r["id"] for r in idx.select("id").distinct().collect())
        assert idx_ids == scratch
        metas = idx.select("hash_fn", "num_hashes", "rows_per_band", "k") \
            .distinct().collect()
        assert len(metas) == 1 and metas[0]["hash_fn"] == "xxhash64"
        assert metas[0]["num_hashes"] == 8 and metas[0]["rows_per_band"] == 2

        # counts sidecar stays in sync across appends: per-key SUMS
        # equal the index's true per-key membership
        side = {
            (r["band_idx"], r["band_key"]): r["total"]
            for r in spark.table("ingest_idx_counts")
            .groupBy("band_idx", "band_key")
            .agg(F.sum("n").alias("total")).collect()
        }
        true = {
            (r["band_idx"], r["band_key"]): r["n"]
            for r in idx.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert side == true
    finally:
        spark.sql("DROP TABLE IF EXISTS ingest_idx")
        spark.sql("DROP TABLE IF EXISTS ingest_idx_counts")


def test_append_to_band_index_requires_self_describing(spark):
    """Appending with guessed geometry would poison every later probe:
    a metadata-less index raises."""
    import pytest

    from sparkcheck.dedup import (
        append_to_band_index,
        band_assignments,
        minhash_signatures,
        write_band_index,
    )

    corpus = spark.createDataFrame([(1, _words(1))], "doc_id long, text string")
    bands = band_assignments(minhash_signatures(corpus, num_hashes=8),
                             num_hashes=8, rows_per_band=2)
    write_band_index(bands, "plain_idx_test", num_buckets=2)
    try:
        new = spark.createDataFrame([(2, _words(2))], "doc_id long, text string")
        with pytest.raises(ValueError, match="metadata"):
            append_to_band_index(new, "plain_idx_test")
    finally:
        spark.sql("DROP TABLE IF EXISTS plain_idx_test")
        spark.sql("DROP TABLE IF EXISTS plain_idx_test_counts")


def test_compact_band_index_preserves_semantics(spark):
    """After several appends, compaction rewrites index + sidecar to
    one segment: identical index rows, one sidecar row per key with
    preserved totals, same bucket count and geometry — and the probe
    returns the same pairs before and after."""
    from pyspark.sql import functions as F

    from sparkcheck.dedup import (
        compact_band_index,
        dedup_corpus,
        append_to_band_index,
        incremental_near_duplicates,
    )
    from sparkcheck.dedup.minhash import _table_num_buckets

    df0 = spark.createDataFrame(
        [(i, _words(i)) for i in range(1, 7)], "doc_id long, text string")
    kw = dict(threshold=0.5, num_hashes=8, rows_per_band=2, max_bucket=None)
    try:
        dedup_corpus(df0, band_index_table="cmp_idx",
                     band_index_buckets=4, **kw).collect()
        for start in (100, 200):
            batch = spark.createDataFrame(
                [(start + j, _words(40 + start + j)) for j in range(3)],
                "doc_id long, text string")
            append_to_band_index(batch, "cmp_idx")

        idx_before = sorted(
            map(tuple, spark.table("cmp_idx")
                .select("id", "band_idx", "band_key").collect()))
        totals_before = {
            (r["band_idx"], r["band_key"]): r["t"]
            for r in spark.table("cmp_idx_counts")
            .groupBy("band_idx", "band_key")
            .agg(F.sum("n").alias("t")).collect()
        }
        probe = spark.createDataFrame(
            [(901, _words(1) + " zz")], "doc_id long, text string")
        pairs_before = sorted(map(tuple, incremental_near_duplicates(
            probe, df0, corpus_bands="cmp_idx", threshold=0.5,
            max_bucket=50).select("id_a", "id_b").collect()))

        stats = compact_band_index(spark, "cmp_idx")
        assert stats["rows"] == len(idx_before)
        assert stats["sidecar_rows_after"] == len(totals_before)
        assert stats["sidecar_rows_before"] >= stats["sidecar_rows_after"]

        idx_after = sorted(
            map(tuple, spark.table("cmp_idx")
                .select("id", "band_idx", "band_key").collect()))
        assert idx_after == idx_before
        after = {
            (r["band_idx"], r["band_key"]): r["n"]
            for r in spark.table("cmp_idx_counts").collect()
        }
        assert after == totals_before  # ONE row per key, summed totals
        assert _table_num_buckets(spark, "cmp_idx") == 4
        assert _table_num_buckets(spark, "cmp_idx_counts") == 4
        metas = spark.table("cmp_idx").select(
            "hash_fn", "num_hashes", "rows_per_band", "k").distinct().collect()
        assert len(metas) == 1 and metas[0]["hash_fn"] == "xxhash64"

        pairs_after = sorted(map(tuple, incremental_near_duplicates(
            probe, df0, corpus_bands="cmp_idx", threshold=0.5,
            max_bucket=50).select("id_a", "id_b").collect()))
        assert pairs_after == pairs_before == [(901, 1)]
    finally:
        for t in ("cmp_idx", "cmp_idx_counts",
                  "cmp_idx__compacting", "cmp_idx__compacting_counts"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cosine_verify_engines_bit_identical(spark):
    """Round-7 pin: all three cosine_for_pairs engines (interpreted
    Column fold, attach-join numpy fold, broadcast-matrix numpy fold)
    agree BITWISE — the numpy kernels fold in the Column path's element
    order by construction, so even the 4-dp rounding boundary cannot
    flip. Includes a malformed row (wrong width) which every engine
    must drop."""
    import pyspark.sql.functions as F

    from sparkcheck.dedup.embedding import cosine_for_pairs

    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8), d -> cast(sin(id * 1.3 + d) as float))"
        ).alias("embedding"),
    ).union(
        spark.sql(
            "select 99L as vec_id, array(cast(1.0 as float)) as embedding"
        )
    )
    pairs = spark.createDataFrame(
        [(a, b) for a in range(0, 40, 3) for b in range(a + 1, 40, 7)]
        + [(0, 99)],
        "id_a long, id_b long",
    )
    outs = {
        eng: sorted(
            (r.id_a, r.id_b, r.cosine)
            for r in cosine_for_pairs(
                vecs, pairs, threshold=-1.0, engine=eng, dim=8
            ).collect()
        )
        for eng in ("column", "arrow", "arrow_broadcast")
    }
    assert outs["column"] == outs["arrow"] == outs["arrow_broadcast"]
    assert len(outs["column"]) > 0
    assert all(t[1] != 99 for t in outs["column"])  # malformed row dropped


def test_embedding_band_assignment_engines_identical(spark):
    """Round-7 pin: the numpy band-key kernel reproduces the interpreted
    sign-bit construction exactly (same left fold, same >= 0 decision,
    same key strings)."""
    import pyspark.sql.functions as F

    from sparkcheck.dedup.embedding import embedding_band_assignments

    df = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 12), d -> cast(cos(id * 2.1 + d) as float))"
        ).alias("embedding"),
    )
    col = sorted(
        map(tuple, embedding_band_assignments(
            df, dim=12, bands=4, bits=3, seed=2, engine="column"
        ).collect())
    )
    arr = sorted(
        map(tuple, embedding_band_assignments(
            df, dim=12, bands=4, bits=3, seed=2, engine="arrow"
        ).collect())
    )
    assert col == arr and len(col) == 60 * 4
