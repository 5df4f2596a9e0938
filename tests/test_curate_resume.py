"""Incremental (resumable) curation: the ops-level composition that
jobs_curate.py --resume drives, pinned against batch curation.

Invariant: over an append-only input with crawl-ordered ids (new ids >
already-processed ids), run₁(old) + increment(new | state) keeps
exactly the docs batch(old ∪ new) keeps — gates are per-doc, exact
dedup anti-joins the increment against the persisted gate-surviving
hashes, and near-dup candidates come from the persisted LSH band index
joined with the new batch's bands."""

from pyspark.sql import functions as F

from pdf_extractor_spark.ops.curate import (curate_corpus,
                                            curation_stage_counts,
                                            qualified_hashes)
from pdf_extractor_spark.ops.dedup import (band_candidates,
                                           cap_megabuckets,
                                           jaccard_for_pairs,
                                           minhash_band_hashes,
                                           minhash_lsh_pairs)

SPLIT = 300


def _incremental_pairs(docs_all, docs_new, threshold=0.8):
    """The increment's near-dup pair plan: old index ∪ new bands,
    megabucket cap over the union, candidates restricted to new-batch
    collisions, Jaccard verify over candidate docs only."""
    old_bands = minhash_band_hashes(
        docs_all.filter(F.col("doc_id") < SPLIT))   # "persisted" state
    new_bands = minhash_band_hashes(docs_new)
    capped = cap_megabuckets(old_bands.unionByName(new_bands),
                             touching=new_bands)
    capped_new = capped.join(docs_new.select("doc_id"),
                             "doc_id", "left_semi")
    cand = band_candidates(capped, right_banded=capped_new)
    cand_ids = (cand.select(F.col("a").alias("doc_id"))
                .unionByName(cand.select(F.col("b").alias("doc_id")))
                .distinct())
    cand_docs = docs_all.join(cand_ids, "doc_id", "left_semi")
    return (jaccard_for_pairs(cand_docs, cand)
            .filter(F.col("jaccard") >= threshold))


def test_incremental_equals_batch(spark, sf_dir):
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    old = docs.filter(F.col("doc_id") < SPLIT)
    new = docs.filter(F.col("doc_id") >= SPLIT)

    batch_pairs = minhash_lsh_pairs(docs, threshold=0.8)
    batch_kept = {r.doc_id for r in
                  curate_corpus(docs, near_dup_pairs=batch_pairs)
                  .collect()}

    old_pairs = minhash_lsh_pairs(old, threshold=0.8)
    kept_old = {r.doc_id for r in
                curate_corpus(old, near_dup_pairs=old_pairs).collect()}

    seen = qualified_hashes(old)
    incr_pairs = _incremental_pairs(docs, new)
    kept_new = {r.doc_id for r in
                curate_corpus(new, near_dup_pairs=incr_pairs,
                              seen_hashes=seen).collect()}

    assert kept_old | kept_new == batch_kept
    assert not (kept_old & kept_new)

    # the increment's pair set completes the batch pair set exactly
    bp = {(r.a, r.b) for r in batch_pairs.collect()}
    op = {(r.a, r.b) for r in old_pairs.collect()}
    ip = {(r.a, r.b) for r in incr_pairs.collect()}
    assert op | ip == bp


def test_incremental_stage_counts_sum_to_batch(spark, sf_dir):
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    old = docs.filter(F.col("doc_id") < SPLIT)
    new = docs.filter(F.col("doc_id") >= SPLIT)

    def counts(df):
        return {r.stage: r.n_docs for r in df.collect()}

    batch = counts(curation_stage_counts(
        docs, near_dup_pairs=minhash_lsh_pairs(docs, threshold=0.8)))
    c_old = counts(curation_stage_counts(
        old, near_dup_pairs=minhash_lsh_pairs(old, threshold=0.8)))
    incr_pairs = _incremental_pairs(docs, new)
    seen = qualified_hashes(old)
    c_new = counts(curation_stage_counts(
        new, near_dup_pairs=incr_pairs, seen_hashes=seen))
    assert c_new["kept"] == curate_corpus(
        new, near_dup_pairs=incr_pairs, seen_hashes=seen).count()
    summed = {k: c_old.get(k, 0) + c_new.get(k, 0)
              for k in set(c_old) | set(c_new)}
    assert summed == batch


def test_seen_hashes_drop_cross_run_exact_dups(spark):
    run1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "another perfectly ordinary english sentence here")],
        "doc_id long, text string")
    # doc 11 duplicates doc 1 (modulo whitespace); doc 12 is new
    run2 = spark.createDataFrame(
        [(11, "  The  QUICK brown fox jumps over the lazy dog "),
         (12, "some genuinely fresh text that is not a duplicate")],
        "doc_id long, text string")
    seen = qualified_hashes(run1)
    kept = {r.doc_id
            for r in curate_corpus(run2, seen_hashes=seen).collect()}
    assert kept == {12}
    stages = {r.stage: r.n_docs
              for r in curation_stage_counts(
                  run2, seen_hashes=seen).collect()}
    assert stages == {"exact_dup": 1, "kept": 1}
