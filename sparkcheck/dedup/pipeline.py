"""One-call corpus deduplication — the composition every training-data
pipeline runs, wired from this package's verified pieces:

    1. exact dedup      — md5(normalized text) groups, keep one copy
    2. near-dup PAIRS   — MinHash-LSH candidates + pair-restricted
                          exact-Jaccard verify (dedup.minhash)
    3. CLUSTERS         — connected components over the pairs
                          (dedup.clusters)
    4. survivors        — one doc per cluster, best by a quality column
                          (dedup.canonical) or the minimum id

Every stage is the scale shape proven in its own module bench
(BENCH/MINHASH_VERIFY.md, BENCH/EMBEDDING_LSH.md): no all-pairs joins,
hot-bucket caps, candidate-restricted verification, iterative
components with checkpointed lineage.

Resumability (``checkpoint_dir=``): at 100 TB each stage is hours of
work, so stage outputs persist as parquet keyed by
(input_fingerprint, stage params) and a re-run skips completed stages.
Only the MINIMAL frames are persisted — surviving ids, band keys,
near-dup pairs, cluster labels — never full document rows (a row cache
would rival the corpus itself; the final assembly re-joins the pruned
source, the same re-scan-beats-cache result as BENCH/VERDICTS_SINK.md).
The fingerprint must identify the input SNAPSHOT (e.g. an Iceberg
snapshot id) — it is required with ``checkpoint_dir`` because silently
reusing stale stages against a changed input would corrupt the output.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from sparkcheck.dedup.clusters import connected_components
from sparkcheck.dedup.exact import drop_exact_duplicates
from sparkcheck.dedup.minhash import (
    append_to_band_index,
    band_assignments,
    candidate_pairs_from_bands,
    incremental_near_duplicates,
    minhash_signatures,
    write_band_index,
)
from sparkcheck.dedup.jaccard import jaccard_for_pairs
from sparkcheck.io.cache import cached_parquet


def _drop_url_duplicates(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative per CANONICAL url; rows whose URL
    is NULL or does not canonicalize (canonicalize_url returns '' for
    anything without a scheme:// — relative and malformed URLs, common
    in real crawls) are exempt and pass through — same contract as exact
    content dedup's NULL-text exemption. Grouping the unparseables under
    the shared '' key would silently collapse them all into one
    surviving doc."""
    from sparkcheck.webtext.urls import SCHEME_RE, canonicalize_url

    # canonicalize_url is a 5-regex expression chain; referencing it in
    # both filters AND the groupBy key evaluated it three times per row.
    # "does not canonicalize" ⟺ "has no scheme://" (canonicalize_url
    # returns '' exactly when the anchored SCHEME_RE fails), so the
    # filters use the single cheap rlike and the full chain runs ONCE,
    # in the groupBy key over the dedupable rows only.
    canon = canonicalize_url(F.col(url_col), strip_www=True)
    has_scheme = F.col(url_col).rlike(SCHEME_RE)
    dedupable = df.where(F.col(url_col).isNotNull() & has_scheme)
    keep = (
        dedupable.groupBy(canon.alias("_cu"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    kept = dedupable.join(keep, on=id_col, how="left_semi")
    exempt = df.where(F.col(url_col).isNull() | ~has_scheme)
    return kept.unionByName(exempt)


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str | None = None,
    k: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    input_fingerprint: str | None = None,
    url_col: str | None = None,
    band_index_table: str | None = None,
    band_index_buckets: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deduplicated corpus: full rows of the surviving docs.

    ``url_col`` (optional, stage 0): the standard crawl recipe dedups
    by CANONICAL URL before touching content — re-crawls of one page
    differ only in tracking params / fragment / host case
    (webtext.canonicalize_url), and dropping them first (keep min id
    per canonical URL; NULL-url docs exempt) shrinks every later stage.
    One groupBy on the canonical key + a semi-join — the same two
    narrow shuffles as exact content dedup.

    Exact duplicates collapse next (cheap md5 groupBy — they would
    otherwise all land in one LSH bucket anyway); near-dup clusters
    then keep their highest-``quality_col`` member (ties and absence of
    a quality column fall back to the minimum id — deterministic at any
    parallelism). Docs in no cluster — including NULL-text docs, which
    are exempt from content hashing — pass through untouched.

    The stages are ``url_ids`` (with ``url_col``), ``exact_ids``,
    ``bands`` (MinHash band keys), ``pairs`` (verified near-dup pairs)
    and ``clusters`` (component labels). Without ``checkpoint_dir``
    each is materialized in memory (``localCheckpoint``).
    ``checkpoint_dir``: persist each stage under
    ``<dir>/<md5(input_fingerprint, params)>/<stage>/`` and skip stages
    already completed — an interrupted 100 TB run resumes after the
    last finished stage instead of recomputing it.
    ``input_fingerprint`` (required with checkpoint_dir) must change
    whenever the input data changes (Iceberg/Delta snapshot id, source
    path + mtime, …). ``quality_col`` is excluded from the key: it only
    affects final survivor choice, so cached stages are reusable across
    quality policies.

    ``hash_fn`` (default 'xxhash64'): the MinHash hash family. The
    pipeline's signatures are engine-INTERNAL — only the exact-Jaccard-
    verified pairs are observable — so it defaults to the codegen'd
    xxhash64 path (the md5-hex construction, kept as the default on the
    oracle-facing ``minhash_*`` functions for DuckDB parity, was
    measured at 84% of the whole pairs-stage wall; BENCH/PIPELINE.md
    round-5 section). Candidate recall is statistically identical (both
    are uniform hash families; the LSH S-curve depends only on the band
    geometry). Pass 'md5' to reproduce pre-round-5 candidate sets. The
    hash family participates in the checkpoint key, and a persisted
    ``band_index_table`` must be probed with the SAME ``hash_fn``.

    ``band_index_table``: the incremental-ingest steady state — after
    the run, the MinHash band assignments of the SURVIVING docs are
    persisted as a bucketed catalog table (``write_band_index``) that
    ``incremental_near_duplicates(corpus_bands=<name>)`` probes with
    zero Exchange on the index side, so tomorrow's batch never rescans
    the corpus. The index write reads the ``bands`` stage that pair
    generation built (or builds it, when a resumed run read ``pairs``
    back without it). The index write is EAGER: it runs
    (and therefore computes survivor ids) inside this call."""
    if checkpoint_dir is None:
        # localCheckpoint: the in-memory analog of a parquet stage. Every
        # stage has several consumers (`exact_ids` feeds pair generation
        # AND the final member join; `bands` feeds the hot-bucket count,
        # the self-join and the index write) and Spark shares no common
        # subplans, so an un-materialized stage re-runs its whole lineage
        # per consumer (measured 2.4x the pipeline wall at 250k docs).
        def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
            return build().localCheckpoint()
    else:
        if not input_fingerprint:
            raise ValueError(
                "checkpoint_dir requires input_fingerprint — a stable id of "
                "the input snapshot; reusing stages against changed data "
                "would corrupt the result"
            )
        key = hashlib.md5(
            json.dumps(
                {
                    "input": input_fingerprint, "text_col": text_col,
                    "id_col": id_col, "k": k, "num_hashes": num_hashes,
                    "rows_per_band": rows_per_band, "threshold": threshold,
                    "max_bucket": max_bucket, "max_iter": max_iter,
                    "url_col": url_col, "hash_fn": hash_fn,
                },
                sort_keys=True,
            ).encode()
        ).hexdigest()
        base = os.path.join(checkpoint_dir, key)
        spark = df.sparkSession

        def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
            return cached_parquet(spark, f"{base}/{name}", build)

    source = df
    if url_col is not None:
        url_ids = stage(
            "url_ids",
            lambda: _drop_url_duplicates(source, url_col, id_col).select(id_col),
        )
        df = source.join(url_ids, on=id_col, how="left_semi")
    exact_ids = stage(
        "exact_ids",
        lambda: drop_exact_duplicates(df, text_col=text_col, id_col=id_col)
        .select(id_col),
    )
    # join against the ORIGINAL source: exact_ids is already a subset of
    # the URL survivors, so one semi-join reproduces the composition
    exact = source.join(exact_ids, on=id_col, how="left_semi")
    # built on first use, so a resumed run whose `pairs` stage exists
    # never recomputes signatures
    bands = functools.cache(
        lambda: stage(
            "bands",
            lambda: band_assignments(
                minhash_signatures(exact, text_col, id_col, k, num_hashes, hash_fn),
                num_hashes, rows_per_band,
            ),
        )
    )
    pairs = stage(
        "pairs",
        lambda: jaccard_for_pairs(
            exact, candidate_pairs_from_bands(bands(), max_bucket),
            text_col, id_col, k, threshold,
        ),
    )
    clusters = stage("clusters", lambda: connected_components(pairs, max_iter=max_iter))

    # Decide survivors on ID-ONLY lineage, touch full rows ONCE (guide
    # §8: decide with small rows, move big rows once). The previous
    # shape unioned two branches of a full-row `member` join, so the
    # whole exact lineage — scan + semi-joins + cluster join — executed
    # once per branch plus once inside the keep-best subtree (~3 full
    # passes per action). Here the member join carries only the id (+
    # quality when ranking on it); the final frame is one semi-join of
    # `exact` against the materialized survivor-id set.
    sel = [id_col] if quality_col is None else [id_col, quality_col]
    member_ids = exact.select(*sel).join(
        clusters.withColumnRenamed("id", id_col), id_col, "left"
    )
    in_cluster = member_ids.where(F.col("cluster").isNotNull())
    if quality_col is not None:
        best = F.max(
            F.struct(
                F.col(quality_col).alias("q"),
                (-F.col(id_col)).alias("neg_id"),
                F.col(id_col).alias("id"),
            )
        )
    else:
        best = F.max(F.struct((-F.col(id_col)).alias("neg_id"), F.col(id_col).alias("id")))
    kept_ids = (
        in_cluster.groupBy("cluster").agg(best.alias("_b"))
        .select(F.col("_b.id").alias(id_col))
    )
    survivor_ids = in_cluster.join(kept_ids, id_col, "left_semi").select(id_col)
    untouched_ids = member_ids.where(F.col("cluster").isNull()).select(id_col)
    final_ids = untouched_ids.unionByName(survivor_ids).localCheckpoint()
    result = exact.join(final_ids, id_col, "left_semi")
    if band_index_table is not None:
        surviving_bands = (
            bands().join(
                final_ids.withColumnRenamed(id_col, "id"), "id", "left_semi"
            )
            .withColumn("hash_fn", F.lit(hash_fn))
            .withColumn("num_hashes", F.lit(num_hashes))
            .withColumn("rows_per_band", F.lit(rows_per_band))
            .withColumn("k", F.lit(k))
        )
        # the constant metadata columns (RLE-compressed to nothing)
        # make the index SELF-DESCRIBING: incremental_near_duplicates
        # adopts the FULL band geometry from it — any single mismatched
        # parameter (family, hash count, band width, shingle k) would
        # make probe keys that never collide, the silent-empty failure
        # mode — and raises when an explicitly-passed parameter
        # contradicts the index
        write_band_index(
            surviving_bands, band_index_table, num_buckets=band_index_buckets
        )
    return result


def ingest_batch(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    band_index_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str | None = None,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    max_iter: int = 20,
    url_col: str | None = None,
) -> DataFrame:
    """Steady-state ingest: one call that closes the incremental loop.

        1. dedup the batch INTERNALLY (``dedup_corpus`` with the
           index's self-described geometry — batch-internal exact and
           near dups collapse exactly like the original corpus run);
        2. PROBE the persisted band index for batch survivors already
           near-duplicated in the corpus
           (``incremental_near_duplicates(corpus_bands=table)`` —
           batch-cost, zero Exchange on the index side) and drop them;
        3. APPEND the accepted docs' bands to the index
           (``append_to_band_index``) so the NEXT batch compares
           against an up-to-date corpus — without this arc "tomorrow's
           batch" works but "the day after" silently probes a stale
           index.

    Returns the accepted rows (already materialized as a narrow id
    frame — the append is an eager write, and without materialization
    the caller's action would recompute the whole batch dedup).

    ``corpus_docs`` must hold the CURRENT corpus text (original
    survivors plus previously accepted batches) — the exact-Jaccard
    verify stage needs it; the band index alone carries no text.

    Equality contract (pytest-pinned): sequential ingest over batches
    equals one from-scratch ``dedup_corpus`` over the concatenation
    when (a) ids are monotone with arrival order and the survivor
    policy is min-id (``quality_col=None``) — a quality policy could
    retroactively prefer a NEW doc over the corpus copy, which
    streaming ingest by construction cannot do; (b) near-dup relations
    do not BRIDGE batches transitively (a later doc linking two
    earlier docs that were not near-dups of each other) — inherent to
    any streaming dedup, not an implementation artifact; and (c)
    ``max_bucket`` is None or large enough that combined buckets in
    the from-scratch run stay under it."""
    spark = new_docs.sparkSession
    idx = spark.table(band_index_table)
    meta_cols = ("hash_fn", "num_hashes", "rows_per_band", "k")
    missing = [c for c in meta_cols if c not in idx.columns]
    if missing:
        raise ValueError(
            f"band index {band_index_table!r} lacks metadata column(s) "
            f"{missing} — ingest_batch requires a self-describing index "
            "(dedup_corpus(band_index_table=))"
        )
    row = idx.select(*meta_cols).limit(1).collect()
    if not row:
        raise ValueError(
            f"band index {band_index_table!r} is empty — rebuild it with "
            "dedup_corpus(band_index_table=)"
        )
    hash_fn, num_hashes, rows_per_band, k = (row[0][c] for c in meta_cols)
    batch = dedup_corpus(
        new_docs, text_col=text_col, id_col=id_col, quality_col=quality_col,
        k=k, num_hashes=num_hashes, rows_per_band=rows_per_band,
        threshold=threshold, max_bucket=max_bucket, max_iter=max_iter,
        url_col=url_col, hash_fn=hash_fn,
    )
    dup_pairs = incremental_near_duplicates(
        batch, corpus_docs, corpus_bands=band_index_table,
        text_col=text_col, id_col=id_col, threshold=threshold,
        max_bucket=max_bucket,
    )
    dup_ids = dup_pairs.select(F.col("id_a").alias(id_col)).distinct()
    accepted_ids = (
        batch.select(id_col)
        .join(dup_ids, on=id_col, how="left_anti")
        .localCheckpoint()
    )
    accepted = new_docs.join(accepted_ids, on=id_col, how="left_semi")
    append_to_band_index(accepted, band_index_table, text_col, id_col)
    return accepted
