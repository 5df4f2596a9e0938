"""Deduplication operators for web-scale corpus curation.

All pure DataFrame ops (no Python UDFs): hashing via ``xxhash64`` /
``md5``, signatures via per-permutation ``min`` aggregates, candidate
generation via band-bucket self-joins — the standard MinHash-LSH /
SimHash shapes used on Common-Crawl-scale corpora.

Scale notes:
* exact dedup — one shuffle on the content hash; skew-free (hashes are
  uniform).
* MinHash-LSH — one plan for batch and increment: shingle-hash explode
  → ONE doc_id exchange feeding both the signature mins and the verify
  hash sets → band explode → one (band_idx, band_hash) exchange that
  pairs each bucket → array_intersect verify. Bucket sizes are the skew risk at
  10^12 docs (boilerplate shingles): a count window drops buckets over
  `max_bucket` before they are collected, exactly like production
  dedup pipelines drop megabuckets, so none becomes one array row. An
  increment is the same plan over the new docs plus the persisted band
  index restricted to the buckets they touch.
* SimHash — one groupBy(doc) for the bit-vote signature, then a
  16-bit-chunk bucket join; hamming verify via bit_count(xor).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 31-bit Mersenne prime: with h, a, b < 2^31, a*h + b < 2^63 (no ANSI
# long overflow inside the codegen'd min-aggregate)
MERSENNE = (1 << 31) - 1


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace — canonical form for hashing."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def content_hash(text: Column) -> Column:
    """md5 of the normalized text: the one exact-duplicate key (the
    curation gate, `exact_duplicates` and `textstats.fingerprint` all
    read it from here)."""
    return F.md5(normalize_text(text))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: groups with >1 member, with the
    canonical (minimum) id per group."""
    from .layout import rebalance_narrow

    h = rebalance_narrow(docs).select(
        F.col(id_col).alias("doc_id"),
        content_hash(F.col(text_col)).alias("content_hash"),
    )
    return (
        h.groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("canonical_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .filter(F.col("n_dups") > 1)
    )


def _shingles_of_words(words: Column, k: int) -> Column:
    """k-shingles of an already-split words array column.

    Built as `concat_ws` over k unrolled `element_at` reads instead of
    `array_join(slice(...))`: the slice allocates a k-element array and
    the join re-walks it per shingle, both in interpreted lambda eval —
    measured 26 vs 7 JVM-CPU-s for the sf1.0 corpus explode, output
    verified identical (exceptAll empty both directions)."""
    n = F.size(words)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - k + F.lit(1)),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j)
                                     for j in range(k)]),
    )).otherwise(F.array(F.array_join(words, " ")))


def shingle_rows(docs: DataFrame, id_col: str, text_col: str, k: int,
                 out_id: str = "doc_id", rebalance: bool = True) -> DataFrame:
    """Exploded (out_id, shingle) table with the normalized-word split
    materialized in its OWN projection before the shingle transform.

    The projection boundary stops Catalyst from re-inlining the
    normalize+split expression into every slice of the transform
    lambda (guide §1.2/§4: fix the per-task work): inlined, each
    document pays n_shingles+1 regexp_replace+split evaluations —
    measured 32.6 s vs 3.1 s for the bare explode+count at sf1.0.

    The input is rebalanced first when it is provably narrow (single-
    row-group parquet cannot feed more than one task regardless of
    split count — see ops.layout): the shingle explode is the
    expensive stage and must run at full width."""
    from .layout import rebalance_narrow

    if rebalance:
        docs = rebalance_narrow(docs)
    words = docs.select(
        F.col(id_col).alias(out_id),
        F.split(normalize_text(F.col(text_col)), " ").alias("__words"))
    return words.select(
        out_id,
        F.explode(_shingles_of_words(F.col("__words"), k)).alias("shingle"))


def hashed_shingle_rows(docs: DataFrame, id_col: str, text_col: str,
                        k: int, out_id: str = "doc_id",
                        rebalance: bool = True) -> DataFrame:
    """(out_id, h64) — xxhash64 of each k-shingle, hashed in the
    projection right above the Generate so shingle STRINGS never cross
    an exchange (guide §2.3: shuffle hashes, not payloads — a shingle
    row shrinks from ~30+ chars to 8 bytes). Every MinHash consumer
    (signature min, band hash, set Jaccard, inverted index) only ever
    reads the shingle through this hash, so results are unchanged
    except for 64-bit collisions (~n²/2^65 per doc pair — negligible
    against the test corpora and the LSH approximation itself)."""
    sr = shingle_rows(docs, id_col, text_col, k, out_id,
                      rebalance=rebalance)
    return sr.select(out_id, F.xxhash64("shingle").alias("h64"))


def _perm_params(n_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE))
            for _ in range(n_perm)]


@lru_cache(maxsize=8)
def _signature_agg_exprs(n_perm: int, seed: int) -> tuple:
    """The n_perm min-aggregate Columns, built once per process:
    Column construction is driver-side py4j chatter (~0.5 s for 64
    aggs) that otherwise recurs on every pipeline call. Columns are
    immutable expression trees — safe to reuse across queries."""
    h = F.pmod(F.col("h64"), F.lit(MERSENNE))
    return tuple(
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_params(n_perm, seed))
    )


@lru_cache(maxsize=8)
def _band_struct_exprs(n_perm: int, bands: int) -> tuple:
    """The per-band xxhash64(mh_…) struct Columns (see
    `_signature_agg_exprs` for why these are cached)."""
    rows = n_perm // bands
    return tuple(
        F.struct(F.lit(bi).alias("band_idx"),
                 F.xxhash64(*[f"mh_{bi * rows + r}" for r in range(rows)])
                 .alias("band_hash"))
        for bi in range(bands)
    )


# Kept for perfbench/compose.py, which passes pick_minhash_shape(n_in)
# as scale_shape; minhash_lsh_pairs has one plan and picks no shape.
SCALE_SHAPE_MIN_DOCS = 5_000_000


def pick_minhash_shape(n_docs: int) -> bool:
    """Kept for perfbench/compose.py: True above SCALE_SHAPE_MIN_DOCS."""
    return n_docs > SCALE_SHAPE_MIN_DOCS


def cap_megabuckets(banded: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Kept for perfbench/compose.py (its candidate-count ratio): the
    band rows whose (band_idx, band_hash) bucket holds ≤ max_bucket
    docs."""
    bucket_sizes = banded.groupBy("band_idx", "band_hash").count()
    return banded.join(
        bucket_sizes.filter(F.col("count") <= max_bucket)
        .select("band_idx", "band_hash"),
        ["band_idx", "band_hash"], "left_semi")


def band_candidates(banded: DataFrame) -> DataFrame:
    """Kept for perfbench/compose.py: distinct (a, b) pairs, a < b,
    colliding in some band."""
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(right,
                  (F.col("l.band_idx") == F.col("r.band_idx"))
                  & (F.col("l.band_hash") == F.col("r.band_hash"))
                  & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 5, n_perm: int = 64,
                      bands: int = 16, threshold: float = 0.8,
                      seed: int = 42, max_bucket: int = 1000) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified with exact
    shingle-set Jaccard ≥ threshold.

    Returns (a, b, jaccard) with a < b. Buckets holding more than
    `max_bucket` docs yield no pairs. The plan is the one described in
    `minhash_lsh_pairs_with_bands`."""
    pairs, _ = minhash_lsh_pairs_with_bands(
        docs, id_col, text_col, k, n_perm, bands, threshold, seed,
        max_bucket)
    return pairs


def _bucket_pairs(keyed: DataFrame, key_cols: list[str],
                  max_bucket: int) -> DataFrame:
    """Distinct ordered (a, b) pairs of doc_ids sharing a key, buckets
    larger than `max_bucket` dropped — ONE keyed exchange: a count
    window over the key drops singleton and oversized buckets row by
    row, then groupBy key → sorted collect_list → nested-transform pair
    explode in the window's partitioning. Identical output to the
    bucket-count + semi-join + self-equi-join shape (every unordered
    pair within a surviving bucket, a < b, distinct across buckets)
    without its two extra exchanges and sorts.

    The size filter runs BELOW the collect, so an oversized bucket
    (identical boilerplate putting millions of docs under one key)
    never becomes one array row."""
    n = F.count("*").over(Window.partitionBy(*key_cols))
    buckets = (keyed.withColumn("__n", n)
               .filter(F.col("__n").between(2, max_bucket))
               .groupBy(*key_cols)
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids")))
    ids = F.col("ids")
    pair_arr = F.flatten(F.transform(
        ids,
        lambda a, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda b: F.struct(a.alias("a"), b.alias("b")))))
    return (buckets.select(F.explode(pair_arr).alias("p"))
            .select("p.a", "p.b").distinct())


def minhash_lsh_pairs_with_bands(
        docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
        k: int = 5, n_perm: int = 64, bands: int = 16,
        threshold: float = 0.8, seed: int = 42, max_bucket: int = 1000,
        scale_shape: bool = False, prior_bands: DataFrame | None = None,
        prior_docs: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """`minhash_lsh_pairs` that also returns `docs`' uncapped band rows
    (doc_id, band_idx, band_hash) — the LSH index a resumable job
    persists as state.

    The one plan: ONE doc_id exchange of the hashed shingles feeds the
    n_perm signature mins AND the verify hash sets, `_bucket_pairs`
    pairs the (band_idx, band_hash) buckets under the `max_bucket`
    window cap, and `_jaccard_from_sets` verifies candidates.

    Increment: pass the persisted band index as `prior_bands` and a
    (id_col, text_col) table holding the already-processed docs as
    `prior_docs`. The index is restricted to the buckets `docs` touch
    and bucketed together with `docs`' bands; only pairs whose `b` is
    in `docs` are kept (with crawl-ordered ids these are exactly the
    pairs a batch run over old ∪ new adds), and only old candidate
    docs are re-shingled from `prior_docs` for the verify.

    `scale_shape` is kept for perfbench/compose.py, which passes False;
    True raises ValueError (the scale shape was removed)."""
    if scale_shape:
        raise ValueError("minhash_lsh_pairs has one plan; scale_shape "
                         "must be False")
    if prior_bands is not None and prior_docs is None:
        raise ValueError("prior_bands needs prior_docs to verify old "
                         "candidate docs")
    # ONE hashpartitioning(doc_id) exchange of the raw shingle-hash rows
    # feeds both per-doc aggregates: the signature mins (banding) and
    # the verify hash set. A single groupBy with both would not share
    # it — column pruning splits it into one aggregate per consumer,
    # each re-shingling every doc behind its own exchange — so the
    # exchange is a repartition below both aggregates, which reuse it.
    # min is duplicate-insensitive and |set| comes from collect_set, so
    # the rows need no pre-distinct. The explicit non-null id filter is
    # the one the verify joins infer: without it the subtrees differ
    # and the exchange is not reused.
    sh = hashed_shingle_rows(docs.filter(F.col(id_col).isNotNull()),
                             id_col, text_col, k).repartition("doc_id")
    sets = _hash_sets(sh)
    banded = (sh.groupBy("doc_id").agg(*_signature_agg_exprs(n_perm, seed))
              .select("doc_id", F.explode(
                  F.array(*_band_struct_exprs(n_perm, bands))).alias("b"))
              .select("doc_id", "b.band_idx", "b.band_hash"))
    key = ["band_idx", "band_hash"]
    if prior_bands is None:
        cand = _bucket_pairs(banded, key, max_bucket)
    else:
        touched = prior_bands.join(banded.select(*key).distinct(), key,
                                   "left_semi")
        cand = (_bucket_pairs(touched.unionByName(banded), key, max_bucket)
                .join(sets.select(F.col("doc_id").alias("b")), "b",
                      "left_semi"))
        old_ids = (cand.select(F.col("a").alias("doc_id")).distinct()
                   .join(sets, "doc_id", "left_anti"))
        old_docs = prior_docs.join(
            old_ids.select(F.col("doc_id").alias(id_col)), id_col,
            "left_semi")
        sets = sets.unionByName(_hash_sets(
            hashed_shingle_rows(old_docs, id_col, text_col, k)))
    jac = _jaccard_from_sets(sets, cand)
    return jac.filter(F.col("jaccard") >= threshold), banded


def _hash_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, h64) rows → (doc_id, hs, n): each doc's shingle-hash
    set and its size."""
    return (sh.groupBy("doc_id").agg(F.collect_set("h64").alias("hs"))
            .withColumn("n", F.size("hs")))


def _jaccard_from_sets(sets: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact set Jaccard from a (doc_id, hs array<long>, n) table:
    |A∩B| via array_intersect per candidate pair. The per-pair set
    intersection replaces the old pairs×shingles exploded join chain
    (which exchanged the whole shingle table by (doc_id, shingle)
    twice); candidate sets are bounded by doc length, so the array row
    stays small."""
    a_sets = sets.select(F.col("doc_id").alias("a"),
                         F.col("hs").alias("hs_a"), F.col("n").alias("n_a"))
    b_sets = sets.select(F.col("doc_id").alias("b"),
                         F.col("hs").alias("hs_b"), F.col("n").alias("n_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (pairs.join(a_sets, "a").join(b_sets, "b")
            .withColumn("inter", inter)
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
            .select("a", "b", "jaccard"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """n-gram Jaccard dedup via shared-shingle candidate generation
    (inverted index), then exact verification. Unlike LSH this is
    exact at the chosen n-gram size; candidate count is bounded by
    shared-shingle co-occurrence."""
    sh = hashed_shingle_rows(docs, id_col, text_col, k).distinct()
    # ubiquitous shingles (stopword-only n-grams) are dropped by the
    # same bucket cap as LSH; one exchange builds the inverted index
    # and explodes its co-occurrence pairs
    cand = _bucket_pairs(sh, ["h64"], 100)
    return _jaccard_from_sets(_hash_sets(sh), cand).filter(
        F.col("jaccard") >= threshold)


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash: per-token xxhash64, per-bit ±1 vote, sign → bit."""
    from .layout import rebalance_narrow

    docs = rebalance_narrow(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                   1).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    sig = toks.groupBy("doc_id").agg(*votes)
    acc = F.lit(0).cast("long")
    for b in range(bits - 1):  # skip sign bit to stay in long range
        acc = acc + F.when(F.col(f"v_{b}") > 0,
                           F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return sig.select("doc_id", acc.alias("simhash"))


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 16-bit chunk bucketing (pigeonhole: any
    pair within hamming ≤ 3 shares at least one of 4 chunks), verified
    by bit_count(xor) ≤ max_hamming."""
    sig = simhash_signatures(docs, id_col, text_col)
    chunks = F.array(*[
        F.struct(F.lit(c).alias("chunk_idx"),
                 F.shiftright(F.col("simhash"), c * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
        for c in range(4)
    ])
    bucketed = sig.select("doc_id", "simhash",
                          F.explode(chunks).alias("c")) \
                  .select("doc_id", "simhash", "c.chunk_idx", "c.chunk")
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cand = (
        l.join(r, (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
               & (F.col("l.chunk") == F.col("r.chunk"))
               & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                F.col("l.simhash").alias("sh_a"), F.col("r.simhash").alias("sh_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def contamination_flags(docs: DataFrame, eval_docs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        eval_id_col: str = "eval_id",
                        eval_text_col: str = "text",
                        k: int = 13) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word k-gram (k=13, the standard contamination window) with an
    evaluation set.

    Scale shape: the eval side is tiny relative to the corpus — its
    distinct shingles broadcast, so the corpus-side explode joins with
    no shuffle of corpus data; output is one row per contaminated
    (doc, eval) pair with the collision count. Corpus docs shorter
    than k words produce their whole-text shingle (same fallback as
    `shingle_rows`), so short-text exact matches still flag.
    """
    # eval side is tiny by contract — no rebalance (it would break the
    # single-partition shortcut that lets its distinct skip an exchange)
    ev = hashed_shingle_rows(eval_docs, eval_id_col, eval_text_col, k,
                             out_id="eval_id", rebalance=False).distinct()
    # No corpus-side distinct before the join: the eval side is
    # broadcast precisely so corpus data never shuffles, and a pre-join
    # distinct would exchange every corpus shingle (~n_words rows per
    # doc — at 100 TB that one distinct shuffles ~100x the corpus
    # bytes). Dedup AFTER the join instead: countDistinct touches only
    # the colliding rows, and "distinct shared shingles per (doc, eval)
    # pair" is the same quantity either way. Both sides probe on the
    # 8-byte shingle hash, never the ~13-word string (guide §2.3).
    sh = hashed_shingle_rows(docs, id_col, text_col, k)
    return (
        sh.join(F.broadcast(ev), "h64")
        .groupBy("doc_id", "eval_id")
        .agg(F.countDistinct("h64").alias("n_collisions"))
    )
